"""Product quantization (Jégou et al., TPAMI 2011) — the memory side of
billion-scale ANN: split each embedding into ``m`` subvectors, train an
independent small codebook per subspace, and store each vector as ``m``
one-byte codes. With m=8, k=16 a 64-float (256-byte) embedding becomes
8 codes — the compression that lets a 100 TB embedding corpus fit an
in-memory ANN index; IVF (operators/clustering.py) partitions the
search, PQ compresses the residents.

Training runs ALL subspaces through ONE Lloyd pass per iteration: the
m per-subspace assignments are chained argmin projections (zero extra
jobs — they fuse into the scan stage), and the m×k centroid updates
reduce in a single stacked (subspace, code) aggregate. m independent
`kmeans_codebook` calls would cost m×(iterations+1) separate Spark
jobs — measured 37 s of pure job-scheduling overhead at m=8 on a
2000-row corpus vs ~6 s for the stacked form; at 100 TB the stacked
form is also the right plan (one corpus scan per iteration, total).

Same determinism contract as `kmeans_codebook`: first-k-by-id init,
fixed iteration count, empty clusters keep their centroid; invariants
are gate-oracle-able in the `ivf_kmeans_codebook_assign` pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _argmin_sql(vec: str, centroids: list[list[float]]) -> str:
    """SQL text of `clustering.codebook_argmin` for one subspace —
    same affinity form (per-centroid ||c||^2 - 2*(left-to-right dot)),
    same array_min struct tiebreak, built as ONE string parsed in a
    single F.expr call (the Column-arithmetic form costs one py4j round
    trip per operator node; at m*k*subdim scale that was measured as
    ~21 s of pure driver time per gate run). Float literals ride through
    CAST('repr' AS DOUBLE) so both construction paths bind identical
    doubles.

    The centroids are a LITERAL array of {c2, cv, i} structs and the
    per-centroid affinity is one transform lambda whose dot product is a
    sequential aggregate/zip_with fold — NOT k unrolled named_structs
    each carrying a subdim-term `+` chain. The unrolled form fed
    whole-stage codegen ~100 KB of generated Java per assignment set,
    and Janino compilation (3 such plans per gate run: two Lloyd
    iterations + the init/trained audit) dominated the query — measured
    40.7 s unrolled vs 3.6 s folded for the full gate at sf0.1 on
    local[32], with BIT-IDENTICAL trained codebooks (the fold seeds at
    0.0 and adds terms left-to-right, exactly the unrolled chain's
    order; x * CAST(y AS DOUBLE) is the same centroid*component
    product). Lambda evaluation is interpreted per element, but k*subdim
    is tiny per row next to a per-plan compile of megabyte-scale Java.

    Delegates to ``clustering._affinity_structs_sql`` so the string
    template (and its bit-identity argument) lives in ONE place; the
    two previously-duplicated bodies emitted byte-identical SQL."""
    from pinterest_data_pipeline_spark.operators.clustering import (
        _affinity_structs_sql,
    )

    return f"array_min({_affinity_structs_sql(vec, centroids)})"


def pq_train_gate(
    df: DataFrame,
    dim: int = 64,
    m: int = 8,
    k: int = 16,
    iterations: int = 2,
) -> DataFrame:
    """Train an m-subspace PQ codebook and emit the one-row gate:

        (n_vectors, m_subspaces, k_per_subspace, code_bytes,
         objective_violations, range_violations)

    ``objective_violations`` counts subspaces whose trained-codebook
    assignment objective exceeds the first-k-init objective (Lloyd
    monotonicity, tolerance-padded like the IVF gate);
    ``range_violations`` counts codes outside [0, k) across all
    subspaces. ``code_bytes`` = m (one byte per code at k ≤ 256) — the
    compression statement the oracle pins as a literal.

    Scale: each subspace codebook is k×(dim/m) driver metadata; one
    corpus scan per Lloyd iteration covers ALL subspaces (stacked
    (subspace, code) centroid aggregate); the objective/range audit is
    ONE final aggregate carrying all 2m assignments."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    from pinterest_data_pipeline_spark.operators.parallel import fan_out

    subdim = dim // m
    work = fan_out(
        df.select(
            F.col("vec_id").alias("__id"),
            *[
                F.slice(F.col("embedding"), i * subdim + 1, subdim).alias(
                    f"__sub{i}"
                )
                for i in range(m)
            ],
        )
    ).localCheckpoint(eager=False)  # the init collect materializes it
    first = work.orderBy("__id").limit(k).collect()
    if len(first) < k:
        # fail loud: the empty-cluster fallback below indexes books[i][c]
        # for c in range(k), which would raise an opaque IndexError when
        # the init list is short (kmeans_codebook tolerates n < k only
        # because it never list-indexes its fallback).
        raise ValueError(
            f"pq_train_gate needs at least k={k} vectors, got {len(first)}"
        )
    init = {
        i: [list(map(float, r[f"__sub{i}"])) for r in first]
        for i in range(m)
    }
    books = {i: [c[:] for c in init[i]] for i in range(m)}
    for _ in range(iterations):
        # ONE select carrying all m argmins: chained assign calls
        # re-analyze the growing plan each time (~10 s driver-side)
        a = work.select(
            "*",
            *[
                F.expr(f"({_argmin_sql(f'__sub{i}', books[i])}).c").alias(
                    f"__c{i}"
                )
                for i in range(m)
            ],
        )
        stacked = a.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("i"),
                            F.col(f"__c{i}").alias("c"),
                            F.col(f"__sub{i}").alias("v"),
                        )
                        for i in range(m)
                    ]
                )
            ).alias("s")
        ).select("s.i", "s.c", "s.v")
        sums = stacked.groupBy("i", "c").agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.get(F.col("v"), j).cast("double")).alias(f"s{j}")
                for j in range(subdim)
            ],
        )
        rows = {(r["i"], r["c"]): r for r in sums.collect()}
        for i in range(m):
            books[i] = [
                [
                    rows[(i, c)][f"s{j}"] / rows[(i, c)]["n"]
                    for j in range(subdim)
                ]
                if (i, c) in rows
                else books[i][c]  # empty cluster keeps its centroid
                for c in range(k)
            ]
    audit_cols = []
    for i in range(m):
        b0 = _argmin_sql(f"__sub{i}", init[i])
        bt = _argmin_sql(f"__sub{i}", books[i])
        audit_cols.append(F.expr(f"({b0}).d").alias(f"__aff0_{i}"))
        audit_cols.append(F.expr(f"({bt}).d").alias(f"__aff_{i}"))
        audit_cols.append(F.expr(f"({bt}).c").alias(f"__code_{i}"))
    audit = work.select(*audit_cols)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_vectors")]
    for i in range(m):
        aggs.append(F.sum(f"__aff0_{i}").alias(f"__j0_{i}"))
        aggs.append(F.sum(f"__aff_{i}").alias(f"__j_{i}"))
        aggs.append(
            F.sum(
                F.when(
                    F.col(f"__code_{i}").isNull()
                    | (F.col(f"__code_{i}") < 0)
                    | (F.col(f"__code_{i}") >= k),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(f"__rv_{i}")
        )
    row = audit.agg(*aggs)
    obj_v = None
    rng_v = None
    for i in range(m):
        # shuffle-order float noise tolerance, as in the IVF gate
        tol = F.lit(1e-6) * (F.abs(F.col(f"__j0_{i}")) + 1)
        v = F.when(
            F.col(f"__j_{i}") > F.col(f"__j0_{i}") + tol, 1
        ).otherwise(0)
        obj_v = v if obj_v is None else obj_v + v
        r = F.col(f"__rv_{i}")
        rng_v = r if rng_v is None else rng_v + r
    return row.select(
        "n_vectors",
        F.lit(m).cast("bigint").alias("m_subspaces"),
        F.lit(k).cast("bigint").alias("k_per_subspace"),
        F.lit(m).cast("bigint").alias("code_bytes"),
        obj_v.cast("bigint").alias("objective_violations"),
        rng_v.cast("bigint").alias("range_violations"),
    )
