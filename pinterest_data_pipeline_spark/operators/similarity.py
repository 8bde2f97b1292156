"""Similarity search over embedding columns (``array<float>``).

Two paths, as a 100 TB pipeline needs both:

- **Brute-force cosine top-k** — the exactness baseline. The query set is
  broadcast (it's small by construction); the corpus is scanned once and
  never shuffled; per-query top-k is a ranking window over |queries|×k
  candidates after a partial aggregation... in practice Spark plans the
  window over the joined scan, so keep |queries| bounded.
- **IVF-style partitioned top-k** — the scale path: a coarse partition
  assignment (here the precomputed ``label`` cluster id; in production a
  k-means codebook) restricts each query to its own partition's rows,
  cutting scanned rows by the partition fan-out. Same cosine kernel.

The cosine kernel is built-in-expression only: ``zip_with`` multiply +
``aggregate`` fold, evaluated JVM-side in codegen. Elements are cast to
double before multiplication; the fold is sequential in array order, so
results are bit-deterministic (and match a left-fold SQL oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators.argmax import top_per_group
from pinterest_data_pipeline_spark.operators.parallel import fan_out


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two float-array columns, in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity rounded to 6 digits (rounding makes downstream
    rank comparisons stable across engines)."""
    return F.round(dot(a, b) / (l2_norm(a) * l2_norm(b)), 6)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (self-matches excluded).

    Returns (query_id, neighbor_id, score, rank). ``queries`` is
    broadcast — it must be the small side."""
    # Norms are materialized per side BEFORE the join: each vector's norm
    # is computed once instead of once per compared pair (1 fold per pair
    # at score time instead of 3).
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        l2_norm(F.col("embedding")).alias("q_norm"),
    )
    c = fan_out(corpus).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        l2_norm(F.col("embedding")).alias("c_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ).alias("score"),
        )
    )
    return top_per_group(
        scored,
        ["query_id"],
        [F.desc("score"), F.asc("neighbor_id")],
        k=k,
        rank_col="rank",
    ).select("query_id", "neighbor_id", "score", "rank")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Approximate top-k: probe only the query's coarse partition.

    The equi-join on ``label`` replaces the cross join — at scale
    this is a broadcast-hash join on the partition id, and each corpus row
    is compared against only the queries assigned to its partition."""
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_part"),
        l2_norm(F.col("embedding")).alias("q_norm"),
    )
    c = fan_out(corpus).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        F.col("label").alias("c_part"),
        l2_norm(F.col("embedding")).alias("c_norm"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("c_part") == F.col("q_part"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ).alias("score"),
        )
    )
    return top_per_group(
        scored,
        ["query_id"],
        [F.desc("score"), F.asc("neighbor_id")],
        k=k,
        rank_col="rank",
    ).select("query_id", "neighbor_id", "score", "rank")


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    partition_col: str | None = None,
    n_blocks: int | None = None,
    max_cell_size: int | None = None,
    scorer: str = "expr",
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    With ``partition_col`` the pair search stays within coarse partitions
    (the scale path); without it, all pairs (audit/oracle path). Returns
    (id_a, id_b, score).

    ``n_blocks=B`` decomposes each cell's triangle of pairs into
    B(B+1)/2 independent join keys (the classic 1-bucket theta-join
    partitioning, Okcan & Riedewald 2011): rows are split into B id
    blocks, a row in block i serves the (i, j≥i) keys on the left side
    and the (i'≤i, i) keys on the right, so every unordered pair meets
    on EXACTLY one key. The output is identical to the plain path —
    it's pure parallelism: without it a whole cell's |cell|² comparisons
    land in one task (the measured 58× wall blow-up at 30× data on a
    dup-dense corpus was one straggler per cell), with it a cell spreads
    over B(B+1)/2 tasks and per-task work drops ~B²/2-fold. At cluster
    scale this is what keeps a hot cell inside one executor's task
    budget. Shuffle cost: each side is replicated ≤ B+1 times, but rows
    are (id, vec, norm) — cheap relative to the quadratic compare.

    ``max_cell_size`` excludes cells larger than the cap outright (the
    degenerate pile-up guard, same recall argument as
    ``dedup.cap_bucket_size``: a cell that big is almost always a
    collapsed/zero-vector pile that exact dedup should have removed).
    For genuinely high-similarity thresholds at corpus scale, prefer
    :func:`lsh_near_duplicates` — an all-pairs-within-cell search is
    inherently output-bound on dup-dense data.

    ``scorer`` (blocked path only) picks the pair-scoring kernel:

    - ``"expr"`` — the codegen ``zip_with``+``aggregate`` fold. Exact
      sequential-fold float semantics, but it allocates a 64-element
      intermediate array PER COMPARED PAIR — measured ~20 µs/pair on the
      ×30 corpus (180M candidate pairs → ~107 s wall).
    - ``"numpy"`` — ``applyInPandas`` over block-pair groups: each group
      scores its A×B pairs with ONE float64 matmul (BLAS), Arrow-batched.
      This is the sanctioned escape hatch for quadratic numeric kernels
      the expression engine can't vectorize; scores are rounded to 6
      decimals so the ≤1-ulp summation-order difference vs the fold
      never surfaces (oracle-checked at sf0.01)."""
    wide = fan_out(df)
    part = F.col(partition_col) if partition_col else F.lit(0)
    base = wide.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        l2_norm(F.col(vec_col)).alias("__norm"),
        part.alias("__part"),
    )
    if max_cell_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("__part")
        base = (
            base.withColumn("__cell_n", F.count("*").over(w))
            .filter(F.col("__cell_n") <= max_cell_size)
            .drop("__cell_n")
        )
    if n_blocks is not None and n_blocks > 1:
        bb = F.lit(n_blocks)
        # barrier: materialize the norm once before the two exploded
        # sides re-read it (same pattern as the LSH path)
        base = base.withColumn(
            "__blk", F.pmod(F.col("__id"), bb).cast("int")
        ).repartition(F.col("__id"))
        if scorer == "numpy":
            return _blocked_pairs_numpy(base, n_blocks, threshold)
        a = base.withColumn(
            "__kj", F.explode(F.sequence(F.col("__blk"), bb - 1))
        ).alias("l")
        b = base.withColumn(
            "__ki", F.explode(F.sequence(F.lit(0), F.col("__blk")))
        ).alias("r")
        joined = a.join(
            b,
            (F.col("l.__part") == F.col("r.__part"))
            & (F.col("l.__blk") == F.col("r.__ki"))
            & (F.col("l.__kj") == F.col("r.__blk"))
            # same-block pairs meet on (i,i) in both orders: keep one.
            # cross-block pairs meet on exactly one key, either order.
            & (
                (F.col("l.__blk") != F.col("r.__blk"))
                | (F.col("l.__id") < F.col("r.__id"))
            )
            & (F.col("l.__id") != F.col("r.__id")),
        )
        return (
            joined.select(
                F.least(F.col("l.__id"), F.col("r.__id")).alias("id_a"),
                F.greatest(F.col("l.__id"), F.col("r.__id")).alias("id_b"),
                F.round(
                    dot(F.col("l.__vec"), F.col("r.__vec"))
                    / (F.col("l.__norm") * F.col("r.__norm")),
                    6,
                ).alias("score"),
            )
            .filter(F.col("score") >= threshold)
        )
    a = base.select(
        F.col("__id").alias("id_a"),
        F.col("__vec").alias("vec_a"),
        F.col("__norm").alias("norm_a"),
        F.col("__part").alias("part_a"),
    )
    b = base.select(
        F.col("__id").alias("id_b"),
        F.col("__vec").alias("vec_b"),
        F.col("__norm").alias("norm_b"),
        F.col("__part").alias("part_b"),
    )
    cond = F.col("id_a") < F.col("id_b")
    if partition_col:
        # equi-join on the cell key; without a partition_col the lit(0)
        # key would funnel everything into one hash partition, so the
        # audit path keeps the plain theta join
        cond = (F.col("part_a") == F.col("part_b")) & cond
    joined = a.join(b, cond)
    return (
        joined.select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("vec_a"), F.col("vec_b"))
                / (F.col("norm_a") * F.col("norm_b")),
                6,
            ).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def _blocked_pairs_numpy(
    base: DataFrame, n_blocks: int, threshold: float
) -> DataFrame:
    """Score the triangle-decomposed block pairs with one BLAS matmul
    per (part, block_i, block_j) group via ``applyInPandas``.

    Same key layout as the expression path (a row in block i serves the
    (i, j≥i) keys as role A and the (i'≤i, i) keys as role B, so each
    unordered pair meets in exactly one group), but the |A|×|B| cosine
    matrix is one float64 matmul instead of |A|·|B| codegen folds with a
    per-pair intermediate array. Group size is cell/B rows per side —
    bounded Arrow batches by construction."""
    import numpy as np
    import pandas as pd

    bb = F.lit(n_blocks)
    a_rows = base.withColumn(
        "__kj", F.explode(F.sequence(F.col("__blk"), bb - 1))
    ).select(
        "__part",
        F.col("__blk").alias("__ki"),
        "__kj",
        "__id",
        "__vec",
        "__norm",
        F.lit(0).alias("__role"),
    )
    b_rows = base.withColumn(
        "__ki", F.explode(F.sequence(F.lit(0), F.col("__blk")))
    ).select(
        "__part",
        "__ki",
        F.col("__blk").alias("__kj"),
        "__id",
        "__vec",
        "__norm",
        F.lit(1).alias("__role"),
    )
    tagged = a_rows.unionByName(b_rows)

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "score": []}).astype(
            {"id_a": "int64", "id_b": "int64", "score": "float64"}
        )
        av = pdf[pdf["__role"] == 0]
        bv = pdf[pdf["__role"] == 1]
        if av.empty or bv.empty:
            return empty
        va = np.vstack([np.asarray(v, dtype=np.float64) for v in av["__vec"]])
        vb = np.vstack([np.asarray(v, dtype=np.float64) for v in bv["__vec"]])
        sim = (va @ vb.T) / np.outer(
            av["__norm"].to_numpy(), bv["__norm"].to_numpy()
        )
        sim = np.round(sim, 6)
        ia = av["__id"].to_numpy()
        ib = bv["__id"].to_numpy()
        mask = sim >= threshold
        same_block = int(pdf["__ki"].iat[0]) == int(pdf["__kj"].iat[0])
        if same_block:
            # both roles hold the full block: id_a < id_b keeps each
            # unordered pair exactly once (and drops self-pairs)
            mask &= ia[:, None] < ib[None, :]
        else:
            mask &= ia[:, None] != ib[None, :]
        ri, ci = np.nonzero(mask)
        if not len(ri):
            return empty
        xa, xb = ia[ri], ib[ci]
        lo, hi = np.minimum(xa, xb), np.maximum(xa, xb)
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "score": sim[ri, ci]}
        )

    return tagged.groupBy("__part", "__ki", "__kj").applyInPandas(
        score, "id_a long, id_b long, score double"
    )


# ------------------------------------------------------------ vector LSH

def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (driver-side constants
    baked into the plan — same planes on every run/partition)."""
    import random

    rng = random.Random(seed)
    return [
        [rng.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


_PLANES_PER_BAND = 8
_LSH_SEED = 7


def hyperplane_band_keys(vec_sql: str, dim: int, bands: int = 4) -> list[Column]:
    """Random-hyperplane (SimHash-for-vectors) band keys: each band is an
    integer whose bits are the signs of ``_PLANES_PER_BAND`` projections.
    P[two vectors share a band] = (1 - θ/π)^_PLANES_PER_BAND per band —
    the standard cosine-LSH s-curve, banded like MinHash so recall
    concentrates on genuinely similar pairs.

    ``vec_sql`` is the vector column's SQL identifier (backtick-quoted
    below, so names containing dots or spaces parse as one column —
    ADVICE r12): each band key is
    ONE compact F.expr over a literal array of {bit, pv} plane structs
    (the clustering._affinity_structs_sql recipe) instead of
    _PLANES_PER_BAND unrolled Column folds — the unrolled form's
    whole-stage codegen dominated every banding query. The inner fold
    is zip_with(vec, plane)·left-to-right from 0.0 — exactly the order
    the `dot` helper evaluates, so projections (and therefore sign
    bits and band keys) are bit-identical; a NULL vector yields NULL
    projections and CASE's ELSE 0, matching when().otherwise(0)."""
    planes = _hyperplanes(dim, bands * _PLANES_PER_BAND, _LSH_SEED)
    vec_sql = "`" + vec_sql.replace("`", "``") + "`"
    keys = []
    for b in range(bands):
        structs = ", ".join(
            "named_struct('bit', {0}, 'pv', array({1}))".format(
                1 << i,
                ", ".join(
                    f"CAST('{float(p)!r}' AS DOUBLE)"
                    for p in planes[b * _PLANES_PER_BAND + i]
                ),
            )
            for i in range(_PLANES_PER_BAND)
        )
        keys.append(
            F.expr(
                f"aggregate(transform(array({structs}), s -> "
                f"CASE WHEN aggregate(zip_with({vec_sql}, s.pv, "
                f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                f"CAST('0.0' AS DOUBLE), (a, t) -> a + t) >= 0 "
                f"THEN s.bit ELSE 0 END), 0, (a, t) -> a + t)"
            )
        )
    return keys


def embedding_banded(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 4,
    partition_col: str | None = None,
) -> DataFrame:
    """The persistable hyperplane band table behind
    :func:`lsh_near_duplicates`: (__id, __vec, __norm, __part, band, key),
    repartitioned on the bucket key — the exchange every downstream use
    (self-join, bucket-cap window, incremental join against state) needs.
    Persist this relation to make embedding near-dup INCREMENTAL: new
    ingests signature only their own rows and bucket-join against the
    stored table (:func:`incremental_embedding_candidates`), the exact
    pattern dedup.minhash_banded serves for text."""
    part = F.col(partition_col) if partition_col else F.lit(0)
    base = fan_out(df).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        l2_norm(F.col(vec_col)).alias("__norm"),
        part.alias("__part"),
    ).repartition(F.col("__id"))  # materialize norms/keys input once,
    # computed post-fan_out so a single-row-group scan can't serialize it
    keys = hyperplane_band_keys("__vec", 64, bands)
    banded = base.select(
        "__id",
        "__vec",
        "__norm",
        "__part",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), k.alias("key"))
                    for b, k in enumerate(keys)
                ]
            )
        ).alias("bk"),
    ).select("__id", "__vec", "__norm", "__part", "bk.band", "bk.key")
    # barrier on the JOIN keys: both self-join sides would otherwise carry
    # the hyperplane-key lineage and compute the bands×planes dot
    # products twice per row; the exchange also IS the join's (and the
    # bucket-cap window's) required partitioning
    return banded.repartition(F.col("__part"), F.col("band"), F.col("key"))


def lsh_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bands: int = 4,
    max_bucket_size: int | None = None,
    partition_col: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs via banded hyperplane LSH + exact cosine
    verification — the vector analog of MinHash LSH: candidates come from
    band-bucket equality joins (shuffle = bucket histogram, never n²),
    then only candidates pay the exact cosine fold.

    Recall follows the cosine-LSH s-curve: near-identical vectors
    (cos ≥ ~0.95) collide with probability ≈1; weakly-similar pairs are
    mostly (intentionally) missed. Returns (id_a, id_b, score).
    ``max_bucket_size`` excludes degenerate oversized buckets (e.g. an
    all-zero-vector pile-up) — see ``dedup.cap_bucket_size``.
    ``partition_col`` scopes buckets to a coarse partition (semantic
    cell): the bucket key becomes (partition, band, key), so only
    same-cell collisions ever become candidates — the within-cell
    search path ``semantic_dedup`` uses once cells outgrow all-pairs."""
    banded = embedding_banded(
        df, id_col, vec_col, bands=bands, partition_col=partition_col
    )
    if max_bucket_size is not None:
        from pinterest_data_pipeline_spark.operators.dedup import cap_bucket_size

        banded = cap_bucket_size(
            banded, ["__part", "band", "key"], max_bucket_size
        )
    left, right = banded.alias("l"), banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.__part") == F.col("r.__part"))
            & (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            F.round(
                dot(F.col("l.__vec"), F.col("r.__vec"))
                / (F.col("l.__norm") * F.col("r.__norm")),
                6,
            ).alias("score"),
        )
        .filter(F.col("score") >= threshold)
        .distinct()
    )


def incremental_embedding_candidates(
    increment: DataFrame,
    existing_banded: DataFrame,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding near-dup pairs for an increment against a stored corpus —
    the vector twin of :func:`dedup.incremental_minhash_candidates`:
    only the NEW vectors pay the bands×planes hyperplane projections;
    the corpus participates as its persisted band table
    (:func:`embedding_banded` output), so per ingest the LSH work is
    O(|increment|) plus one bucket-keyed join against state. Because the
    band table carries vectors and norms, candidates are verified
    in-join (exact cosine ≥ ``threshold``) — the output is final pairs
    (id_a, id_b, score) with ≥1 new member, not just candidates.
    Uncapped, the union over ingests converges to the one-shot
    :func:`lsh_near_duplicates` pair set (pinned by
    tests/test_dedup_similarity.py).

    The increment is banded without a partition column, so
    ``existing_banded`` must be too: the join is keyed on
    (__part, band, key), and state banded with a partition column
    would never collide with increment rows."""
    new_banded = embedding_banded(increment).withColumn("__new", F.lit(True))
    all_banded = existing_banded.withColumn(
        "__new", F.lit(False)
    ).unionByName(new_banded)
    left, right = all_banded.alias("l"), all_banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.__part") == F.col("r.__part"))
            & (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.__id") < F.col("r.__id"))
            & (F.col("l.__new") | F.col("r.__new")),
        )
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            F.round(
                dot(F.col("l.__vec"), F.col("r.__vec"))
                / (F.col("l.__norm") * F.col("r.__norm")),
                6,
            ).alias("score"),
        )
        .filter(F.col("score") >= threshold)
        .distinct()
    )


# ------------------------------------------------------------ quantization


def quantize_int8(vec: Column) -> Column:
    """Symmetric int8 quantization of a float-array column: returns
    ``struct(scale double, q array<int>)`` with ``q_i = round(v_i/scale)``
    and ``scale = max|v|/127``.

    This is the storage lever for a 100 TB vector corpus: 4x smaller than
    float32 at <0.4% max per-element error, and the int8 plane still
    supports the LSH/IVF candidate generation (hyperplane signs survive
    quantization). An all-zero vector quantizes to scale=0 / all-zero q."""
    maxabs = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    scale = maxabs / F.lit(127.0)
    q = F.when(
        maxabs == 0.0,
        F.transform(vec, lambda x: F.lit(0)),
    ).otherwise(
        F.transform(vec, lambda x: F.round(x.cast("double") / scale).cast("int"))
    )
    return F.struct(scale.alias("scale"), q.alias("q"))


def dequantize_int8(q: Column, scale: Column) -> Column:
    """Reconstruct a double array from (q, scale)."""
    return F.transform(q, lambda i: i.cast("double") * scale)


def multiprobe_corpus(
    corpus: DataFrame,
    centroids: list[list[float]],
) -> DataFrame:
    """The IVF-assigned corpus side of :func:`ivf_topk_multiprobe`:
    (neighbor_id, c_vec, c_part, c_norm). Split out so a caller probing
    the SAME corpus at several ``nprobe`` settings (the recall-curve
    audit in ``embedding_ivf_multiprobe_topk``) can materialize the
    assignment ONCE (``localCheckpoint``) instead of re-running the
    k×dim argmin + norm scan per setting — this is exactly "build the
    IVF index once, probe it many times"."""
    from pinterest_data_pipeline_spark.operators.clustering import (
        assign_to_codebook,
    )

    return assign_to_codebook(fan_out(corpus), centroids).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        F.col("cluster").alias("c_part"),
        l2_norm(F.col("embedding")).alias("c_norm"),
    )


def ivf_topk_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
    corpus_assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF top-k with multiprobe: each query searches its ``nprobe``
    nearest codebook partitions instead of one — the standard recall
    lever (recall→exact as nprobe→|codebook| while scanned rows stay
    ~nprobe/|codebook| of the corpus). The corpus keeps a single top-1
    partition per row; only the broadcast query side is exploded, so the
    join cost is |corpus-partition-rows| × probes-per-partition.

    ``corpus_assigned`` (from :func:`multiprobe_corpus`, possibly
    checkpointed) lets multi-``nprobe`` callers reuse one assignment."""
    from pinterest_data_pipeline_spark.operators.clustering import (
        assign_probes,
    )

    c = (
        corpus_assigned
        if corpus_assigned is not None
        else multiprobe_corpus(corpus, centroids)
    )
    q = assign_probes(queries, centroids, nprobe=nprobe).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.col("probe").alias("q_part"),
        l2_norm(F.col("embedding")).alias("q_norm"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("c_part") == F.col("q_part"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ).alias("score"),
        )
    )
    return top_per_group(
        scored,
        ["query_id"],
        [F.desc("score"), F.asc("neighbor_id")],
        k=k,
        rank_col="rank",
    ).select("query_id", "neighbor_id", "score", "rank")


def triplet_mining(
    corpus: DataFrame,
    anchors: DataFrame,
) -> DataFrame:
    """Contrastive training triplets: for each anchor, its hardest
    POSITIVE (most-similar vector sharing the anchor's label) and its
    hardest NEGATIVE (most-similar vector with a DIFFERENT label — the
    near-miss a contrastive loss learns the most from). Returns one row
    per anchor:

        (anchor_id, anchor_label, positive_id, pos_score,
         negative_id, neg_score, margin_r6)

    with ``margin_r6 = round(pos_score − neg_score, 6)`` — the quantity
    a triplet loss drives positive. Anchors lacking either leg in the
    corpus are dropped (a triplet needs both). Ties break by candidate
    id ascending, so the mined set is deterministic — for ANY orderable
    id type (the round-7 numeric-only contract is gone, per the r8
    advisor note).

    Scale: ONE corpus scan scored against the broadcast anchor batch.
    For NUMERIC ids both argmax legs then resolve inside a single
    partial-combinable aggregate — ``max(struct(score, −cand_id))`` per
    (anchor, leg) — so map-side combine collapses every partition to
    |anchors| rows before the only shuffle; no ranking window, no
    second pass. For non-numeric ids (no order-reversing negation
    exists), the same semantics cost one more map-side-combinable
    aggregate instead of a corpus-wide window: max(score) per
    (anchor, leg), a broadcast join of that |anchors|×2-row table back
    onto the scored relation, then min(cand_id) among the max-score
    rows — every stage collapses map-side, nothing global. At larger
    anchor batches, swap the scored join for the IVF/LSH candidate
    generators in this module — the selection aggregates are unchanged.
    """
    from pyspark.sql.types import NumericType

    numeric_id = all(
        isinstance(df.schema["vec_id"].dataType, NumericType)
        for df in (corpus, anchors)
    )
    a = anchors.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("a_vec"),
        l2_norm(F.col("embedding")).alias("a_norm"),
    )
    c = fan_out(corpus).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        F.col("embedding").alias("c_vec"),
        l2_norm(F.col("embedding")).alias("c_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(a))
        .filter(F.col("cand_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "anchor_label",
            "cand_id",
            "cand_label",
            F.round(
                dot(F.col("a_vec"), F.col("c_vec"))
                / (F.col("a_norm") * F.col("c_norm")),
                6,
            ).alias("score"),
        )
    )
    same = F.col("cand_label") == F.col("anchor_label")
    if numeric_id:
        # argmax by (score DESC, cand_id ASC) == max of struct(score, -id):
        # struct comparison is lexicographic, so the largest score wins and
        # equal scores resolve to the largest -id, i.e. the smallest id.
        def best(cond):
            return F.max(
                F.when(
                    cond,
                    F.struct(
                        F.col("score").alias("s"),
                        (-F.col("cand_id")).alias("neg_id"),
                    ),
                )
            )

        agg = scored.groupBy("anchor_id", "anchor_label").agg(
            best(same).alias("__pos"), best(~same).alias("__neg")
        )
        return (
            agg.filter(
                F.col("__pos").isNotNull() & F.col("__neg").isNotNull()
            )
            .select(
                "anchor_id",
                "anchor_label",
                (-F.col("__pos.neg_id")).alias("positive_id"),
                F.col("__pos.s").alias("pos_score"),
                (-F.col("__neg.neg_id")).alias("negative_id"),
                F.col("__neg.s").alias("neg_score"),
                F.round(F.col("__pos.s") - F.col("__neg.s"), 6).alias(
                    "margin_r6"
                ),
            )
        )
    # Orderable-but-not-numeric ids (strings, dates…): same
    # (score DESC, cand_id ASC) semantics via two map-side-combinable
    # aggregates — max score per (anchor, leg), broadcast that
    # |anchors|×2-row table back, min id among the max-score rows.
    per_leg = scored.withColumn(
        "__leg", F.when(same, F.lit("pos")).otherwise(F.lit("neg"))
    )
    best_score = per_leg.groupBy("anchor_id", "__leg").agg(
        F.max("score").alias("__best")
    )
    winners = (
        per_leg.join(F.broadcast(best_score), ["anchor_id", "__leg"])
        .filter(F.col("score") == F.col("__best"))
        .groupBy("anchor_id", "anchor_label", "__leg")
        .agg(F.min("cand_id").alias("__cid"), F.max("score").alias("__s"))
    )
    # ≤1 row per (anchor, leg), so max(when(...)) just picks that row
    pivoted = winners.groupBy("anchor_id", "anchor_label").agg(
        F.max(
            F.when(
                F.col("__leg") == "pos",
                F.struct(F.col("__s").alias("s"), F.col("__cid").alias("cid")),
            )
        ).alias("__pos"),
        F.max(
            F.when(
                F.col("__leg") == "neg",
                F.struct(F.col("__s").alias("s"), F.col("__cid").alias("cid")),
            )
        ).alias("__neg"),
    )
    return (
        pivoted.filter(
            F.col("__pos").isNotNull() & F.col("__neg").isNotNull()
        )
        .select(
            "anchor_id",
            "anchor_label",
            F.col("__pos.cid").alias("positive_id"),
            F.col("__pos.s").alias("pos_score"),
            F.col("__neg.cid").alias("negative_id"),
            F.col("__neg.s").alias("neg_score"),
            F.round(F.col("__pos.s") - F.col("__neg.s"), 6).alias(
                "margin_r6"
            ),
        )
    )


def mutual_top1_pairs(df: DataFrame) -> DataFrame:
    """Mutual nearest-neighbor pairs — the SemDeDup-style confidence
    tier ABOVE one-directional similarity: a pair where EACH vector is
    the other's top-1 cosine neighbor. Reciprocity is the classic
    robustness filter (used from Lowe's ratio-test lineage to RNN-based
    dedup): a hub vector that is "closest" to everything generates many
    one-way edges but few mutual ones.

    Determinism discipline: the neighbor argmax ranks by
    (round(cosine, 6) DESC, candidate id ASC) — rounding BEFORE the
    argmax makes the selection independent of sub-6dp float noise, the
    same grain every oracled score in this module compares at. Numeric
    ids (this corpus's vec_id) ride the single-aggregate
    max(struct(score, −id)) path.

    Scale: written against an ALL-PAIRS score relation, so the caller
    bounds the universe (the registered query audits a deterministic
    1-in-10 sample); to run corpus-wide, generate candidates with this
    module's IVF/LSH generators and feed the same argmax — reciprocity
    logic is unchanged."""
    a = df.select(
        F.col("vec_id").alias("__ida"), F.col("embedding").alias("__va")
    )
    b = df.select(
        F.col("vec_id").alias("__idb"), F.col("embedding").alias("__vb")
    )
    scored = (
        a.join(b, F.col("__ida") != F.col("__idb"))
        .select(
            "__ida",
            "__idb",
            cosine(F.col("__va"), F.col("__vb")).alias("__s"),
        )
    )
    nn = (
        scored.groupBy("__ida")
        .agg(
            F.max(
                F.struct(
                    F.col("__s").alias("s"),
                    (-F.col("__idb")).alias("neg_id"),
                )
            ).alias("__best")
        )
        .select(
            "__ida",
            (-F.col("__best.neg_id")).alias("__nn"),
            F.col("__best.s").alias("__s"),
        )
    )
    left = nn.select(
        F.col("__ida").alias("id_a"),
        F.col("__nn").alias("id_b"),
        F.col("__s").alias("score_r6"),
    ).where(F.col("id_a") < F.col("id_b"))
    right = nn.select(
        F.col("__nn").alias("id_a"), F.col("__ida").alias("id_b")
    ).where(F.col("id_a") < F.col("id_b"))
    return left.join(right, ["id_a", "id_b"], "left_semi")


def intrinsic_dimension_twonn(sample: DataFrame) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (Facco et al. 2017) over a
    deterministic sample of (``vec_id``, ``embedding``) rows — the
    embedding-geometry diagnostic the family lacks: norms and top-direction power read SCALE and
    ANISOTROPY; TwoNN reads how many degrees of freedom the vectors
    actually use (an "768-dim" embedding with ID ≈ 12 wastes storage
    and distance resolution, and ID drift across corpus versions flags
    an encoder change). The estimator needs only each point's two
    nearest neighbors: μ_i = d₂/d₁, and the MLE is

        ID = n_used / Σ ln μ_i  =  2·n_used / Σ ln(d₂²/d₁²)

    (squared form — no sqrt in the comparison path).

    Determinism/exactness: squared distances fold per-index in fixed
    order and are rounded to the 6-decimal grain BEFORE neighbor
    selection (the cell-quality discipline), ties break on neighbor
    id; points whose d₁² rounds to 0 (near-duplicates at the grain)
    are excluded and COUNTED (n_degenerate). The ln-sum is a sum of
    n_used well-scaled doubles — orders of magnitude inside the final
    round(…, 6).

    Scale: the all-pairs join runs on the SAMPLE ONLY (the
    mutual_nn_pairs_sample precedent — an audit-sized diagnostic, the
    caller bounds it by construction); one window ranks neighbors,
    one fold produces the single output row."""
    pts = sample.select(
        F.col("vec_id").alias("__id"), F.col("embedding").alias("__v")
    )
    l, r = pts.alias("l"), pts.alias("r")
    d2 = F.round(
        F.aggregate(
            F.zip_with(
                F.col("l.__v"),
                F.col("r.__v"),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
        6,
    )
    pairs = l.join(
        F.broadcast(r), F.col("l.__id") != F.col("r.__id")
    ).select(
        F.col("l.__id").alias("__id"),
        F.col("r.__id").alias("__nid"),
        d2.alias("__d2"),
    )
    w = Window.partitionBy("__id").orderBy(
        F.col("__d2").asc(), F.col("__nid").asc()
    )
    top2 = (
        pairs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 2)
        .groupBy("__id")
        .agg(
            F.min(F.when(F.col("__rn") == 1, F.col("__d2"))).alias("__d1"),
            F.min(F.when(F.col("__rn") == 2, F.col("__d2"))).alias("__d2n"),
        )
    )
    usable = (F.col("__d1") > 0) & F.col("__d2n").isNotNull()
    agg = top2.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sample"),
        F.sum(usable.cast("long")).cast("bigint").alias("n_used"),
        F.sum((~usable).cast("long")).cast("bigint").alias("n_degenerate"),
        F.sum(
            F.when(usable, F.log(F.col("__d2n") / F.col("__d1")))
            .otherwise(0.0)
        ).alias("__lnsum"),
    )
    return agg.select(
        "n_sample",
        "n_used",
        "n_degenerate",
        F.round(
            F.when(
                (F.col("n_used") > 0) & (F.col("__lnsum") > 0),
                F.lit(2.0)
                * F.col("n_used").cast("double")
                / F.col("__lnsum"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("id_twonn_r6"),
    )
