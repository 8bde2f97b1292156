"""Privacy auditing over tabular corpora — the release-gate question a
training-data pipeline answers before a dataset (or its metadata) leaves
the boundary: how identifiable are rows from their quasi-identifiers?

k-anonymity (Sweeney 2002): a row is k-anonymous if at least k rows
share its full quasi-identifier combination. The audit reports the
minimum group size, how many groups/rows fall below the threshold, and
the share of rows that are safely anonymous — pure integer counting, so
a SQL oracle replays every number.

This complements the content-side `pii_redaction_counts` (which finds
PII INSIDE text); k-anonymity measures re-identification risk from the
COLUMNS a release would keep.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: list[Column | str],
) -> DataFrame:
    """One-row k-anonymity audit (k = 5) over the given quasi-identifier
    columns:

        (n_rows, n_groups, k_min, groups_below_k, rows_below_k,
         anonymous_share_r6)

    ``k_min`` is the smallest equivalence-class size (the dataset's
    actual k-anonymity level); ``anonymous_share_r6`` the fraction of
    rows living in classes of size ≥ k. NULL quasi-values form their
    own class (standard grouping semantics — NULLs group together),
    which is the conservative reading: an all-NULL row is as linkable
    as any other repeated combination.

    Scale: ONE grouped count over the quasi columns (map-side combine),
    then every statistic is an aggregate over the |classes| relation.
    No windows, no joins."""
    k = 5
    groups = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    n = F.col("__n")
    return groups.agg(
        F.sum(n).cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.min(n).cast("bigint").alias("k_min"),
        F.sum(F.when(n < k, 1).otherwise(0)).cast("bigint").alias(
            "groups_below_k"
        ),
        F.sum(F.when(n < k, n).otherwise(0)).cast("bigint").alias(
            "rows_below_k"
        ),
        F.round(
            F.sum(F.when(n >= k, n).otherwise(0)).cast("double")
            / F.sum(n).cast("double"),
            6,
        ).alias("anonymous_share_r6"),
    )


def l_diversity_audit(
    df: DataFrame,
    quasi_cols: list[Column | str],
    sensitive_col: str,
) -> DataFrame:
    """One-row ℓ-diversity audit (Machanavajjhala et al. 2007) — the
    release gate k-anonymity alone cannot provide: a k-anonymous class
    whose rows all share one SENSITIVE value still discloses it
    (the homogeneity attack). Distinct-ℓ-diversity counts the distinct
    sensitive values per quasi-identifier class:

        (n_rows, n_classes, l_min, classes_below_l, rows_below_l,
         diverse_share_r6)

    ``l_min`` is the dataset's actual ℓ level; ``diverse_share_r6`` the
    fraction of rows in classes with ≥ 2 distinct sensitive values.
    NULL sensitive values count as one value (they
    are a disclosure too — "field withheld" is information); NULL
    quasi-values group together (the k_anonymity_audit convention).

    Scale: ONE grouped (count, count_distinct) over the quasi columns,
    then aggregates over the |classes| relation. No windows, no
    joins."""
    # count_distinct ignores NULLs in every engine; the sentinel
    # coalesce makes NULL a countable value per the docstring contract
    # (mirrored in oracles).
    l_threshold = 2
    sens = F.coalesce(
        F.col(sensitive_col).cast("string"), F.lit("__NULL__")
    )
    classes = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.count_distinct(sens).cast("bigint").alias("__l"),
    )
    n, lv = F.col("__n"), F.col("__l")
    return classes.agg(
        F.sum(n).cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min(lv).cast("bigint").alias("l_min"),
        F.sum(F.when(lv < l_threshold, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_below_l"),
        F.sum(F.when(lv < l_threshold, n).otherwise(0))
        .cast("bigint")
        .alias("rows_below_l"),
        F.round(
            F.sum(F.when(lv >= l_threshold, n).otherwise(0)).cast("double")
            / F.sum(n).cast("double"),
            6,
        ).alias("diverse_share_r6"),
    )


def t_closeness_audit(
    df: DataFrame,
    quasi_cols: list[Column | str],
    sensitive_col: str,
    t_threshold: float = 0.5,
) -> DataFrame:
    """One-row t-closeness audit (Li, Li & Venkatasubramanian 2007) —
    the third gate of the release trio: k-anonymity bounds class SIZE,
    ℓ-diversity bounds sensitive-value VARIETY, t-closeness bounds how
    far a class's sensitive-value DISTRIBUTION sits from the global one
    (the skewness/similarity attacks ℓ-diversity still allows — a class
    can hold ℓ distinct values yet be 99% one of them). For a
    categorical sensitive attribute under the uniform ground distance,
    the Earth-Mover's Distance reduces to total variation:

        t(class) = ½ · Σ_v |p_class(v) − p_global(v)|

    Returns (n_rows, n_classes, t_max_r6, classes_above_t,
    rows_above_t, compliant_share_r6). The above/below split compares
    the ROUNDED t (6 decimals) against ``t_threshold`` so the gate is
    engine-stable at the boundary. NULL sensitive values count as a
    value; NULL quasi-values group together (the k_anonymity_audit
    convention).

    Absent-value folding (what keeps this join-sized): a global value v
    absent from a class contributes exactly p_global(v), so with
    Q_class = Σ_{v∈class} p_global(v),

        t(class) = ½·(Σ_{v∈class} |p_class(v) − p_global(v)| + 1 − Q_class)

    — everything runs on the (class, value) relation of ONE grouped
    count; no |classes| × |values| expansion exists. The global
    marginal joins broadcast (|values| rows); class totals come from a
    window over the quasi keys (which groups NULL keys together — an
    equi-join back on the quasi columns would silently drop NULL-keyed
    classes).

    Scale: one (quasi..., sensitive) grouped count (map-side combine),
    one class-key window over the cell relation, a broadcast value
    marginal, then aggregates over the |classes| relation."""
    quasi = [F.col(c) if isinstance(c, str) else c for c in quasi_cols]
    names = [f"__q{i}" for i in range(len(quasi))]
    sens = F.coalesce(
        F.col(sensitive_col).cast("string"), F.lit("__NULL__")
    )
    cells = df.groupBy(
        *[c.alias(n) for c, n in zip(quasi, names)], sens.alias("__v")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("__nqv"))
    # class totals come from a WINDOW over the quasi keys, not a join:
    # window partitioning groups NULL keys together (the k_anonymity
    # convention), while an equi-join back on the quasi columns would
    # silently drop every NULL-keyed class (NULL = NULL never matches).
    # __v needs no such care — it is sentinel-coalesced above.
    class_w = Window.partitionBy(*[F.col(n) for n in names])
    cells = cells.withColumn(
        "__nq", F.sum("__nqv").over(class_w).cast("bigint")
    )
    val_tot = cells.groupBy("__v").agg(
        F.sum("__nqv").cast("bigint").alias("__nv")
    )
    nn = cells.agg(F.sum("__nqv").cast("bigint").alias("__nn"))
    p_cls = F.col("__nqv").cast("double") / F.col("__nq").cast("double")
    p_glob = F.col("__nv").cast("double") / F.col("__nn").cast("double")
    per_class = (
        cells.join(F.broadcast(val_tot), "__v")
        .crossJoin(F.broadcast(nn))
        .groupBy(*names)
        .agg(
            F.max("__nq").cast("bigint").alias("__n"),
            F.round(
                F.lit(0.5)
                * (
                    F.sum(F.abs(p_cls - p_glob))
                    + F.lit(1.0)
                    - F.sum(p_glob)
                ),
                6,
            ).alias("__t"),
        )
    )
    n, t = F.col("__n"), F.col("__t")
    return per_class.agg(
        F.sum(n).cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.round(F.max(t), 6).alias("t_max_r6"),
        F.sum(F.when(t > t_threshold, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_above_t"),
        F.sum(F.when(t > t_threshold, n).otherwise(0))
        .cast("bigint")
        .alias("rows_above_t"),
        F.round(
            F.sum(F.when(t <= t_threshold, n).otherwise(0)).cast("double")
            / F.sum(n).cast("double"),
            6,
        ).alias("compliant_share_r6"),
    )
