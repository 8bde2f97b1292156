"""Product quantization (Jégou et al., TPAMI 2011) — the memory side of
billion-scale ANN: split each embedding into ``m`` subvectors, train an
independent small codebook per subspace, and store each vector as ``m``
one-byte codes. With m=8, k=16 a 64-float (256-byte) embedding becomes
8 codes — the compression that lets a 100 TB embedding corpus fit an
in-memory ANN index; IVF (operators/clustering.py) partitions the
search, PQ compresses the residents.

Training is `clustering.train_codebooks` with one vector column per
subspace: every Lloyd iteration scans the corpus once for all m
subspaces, and the Lloyd-monotonicity and code-range audit is
`clustering.codebook_gate`, the same gate `ivf_kmeans_codebook_assign`
runs on its one coarse codebook.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pq_train_gate(
    df: DataFrame,
    dim: int = 64,
    m: int = 8,
    *,
    iterations: int = 2,
) -> DataFrame:
    """Train an m-subspace PQ codebook (k = 16 codes per subspace) and
    emit the one-row gate:

        (n_vectors, m_subspaces, k_per_subspace, code_bytes,
         objective_violations, range_violations)

    ``objective_violations`` counts subspaces whose trained codebook
    fails Lloyd monotonicity and ``range_violations`` counts codes
    outside [0, k) across all subspaces (`clustering.codebook_gate`).
    ``code_bytes`` = m (one byte per code at k ≤ 256) — the compression
    statement the oracle pins as a literal. Fewer than k vectors raises
    ``ValueError``.

    Scale: each subspace codebook is k×(dim/m) driver metadata; one
    corpus scan per Lloyd iteration covers ALL subspaces, and the
    audit is ONE final aggregate carrying all 2m assignments."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    from pinterest_data_pipeline_spark.operators.clustering import (
        codebook_gate,
    )
    from pinterest_data_pipeline_spark.operators.parallel import fan_out

    k = 16
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
    gate = codebook_gate(
        work, [f"__sub{i}" for i in range(m)], "__id", k, iterations
    )
    return gate.select(
        "n_vectors",
        F.lit(m).cast("bigint").alias("m_subspaces"),
        F.lit(k).cast("bigint").alias("k_per_subspace"),
        F.lit(m).cast("bigint").alias("code_bytes"),
        "objective_violations",
        "range_violations",
    )
