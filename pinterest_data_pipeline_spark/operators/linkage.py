"""Fellegi-Sunter probabilistic record linkage (Fellegi & Sunter
1969) — the entity-resolution scoring layer ABOVE this engine's
string-similarity joins: FastSS/PPJoin answer "which field values are
close"; Fellegi-Sunter answers "how much evidence does each agreement
PATTERN carry that two records are the same entity", via

    w_j(agree)    = log2(m_j / u_j)
    w_j(disagree) = log2((1 − m_j) / (1 − u_j))

with m_j = P(field j agrees | match) and u_j = P(agrees | non-match),
estimated by COUNTING over a candidate set with known match labels
(training pairs). A pair's score is Σ_j w_j; thresholding it is the
classic link/review/reject triage.

Engine discipline:

- every m/u is (count + 1)/(total + 2) — Laplace-smoothed so no
  log(0), and a ratio of EXACT integers, so the log2 input double is
  identical across engines;
- the output is per-PATTERN (2^k rows), not per-pair: the pattern
  relation is the sufficient statistic, so counts are hash-exact and
  the only doubles are k log2 terms summed in FIXED field order
  (Python-constructed expression, not a data-dependent aggregate);
- the candidate set and labels come from the caller — deterministic
  blocking, replayable in SQL.

Scale: ONE blocked candidate join feeding ONE map-side-combinable
pattern aggregate (2^k · 2 rows out); m/u and weights are column
arithmetic on that tiny relation against a broadcast one-row total.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def fellegi_sunter_pattern_weights(
    candidates: DataFrame,
    agree_cols: list[str],
) -> DataFrame:
    """Per-pattern Fellegi-Sunter evidence weights.

    ``candidates``: one row per candidate pair with boolean agreement
    columns ``agree_cols`` (field j agreed?) and boolean ``is_match``
    (ground-truth label). Output: one row per observed
    (pattern, counts) with ``n_match``, ``n_nonmatch`` and
    ``weight_r6`` = Σ_j w_j under smoothed m/u."""
    pat = candidates.groupBy(
        *[F.col(c).cast("boolean").alias(c) for c in agree_cols]
    ).agg(
        F.sum(F.col("is_match").cast("long")).alias("n_match"),
        F.sum((~F.col("is_match")).cast("long")).alias("n_nonmatch"),
    )
    totals = pat.agg(
        F.sum("n_match").alias("__tm"), F.sum("n_nonmatch").alias("__tu")
    )
    agree_counts = pat.agg(
        *[
            F.sum(F.when(F.col(c), F.col("n_match")).otherwise(0)).alias(
                f"__am_{c}"
            )
            for c in agree_cols
        ],
        *[
            F.sum(
                F.when(F.col(c), F.col("n_nonmatch")).otherwise(0)
            ).alias(f"__au_{c}")
            for c in agree_cols
        ],
    )
    enriched = pat.crossJoin(F.broadcast(totals)).crossJoin(
        F.broadcast(agree_counts)
    )

    def _log2(x: Column) -> Column:
        return F.log2(x)

    weight: Column = F.lit(0.0)
    for c in agree_cols:
        m = (F.col(f"__am_{c}") + 1).cast("double") / (
            F.col("__tm") + 2
        ).cast("double")
        u = (F.col(f"__au_{c}") + 1).cast("double") / (
            F.col("__tu") + 2
        ).cast("double")
        weight = weight + F.when(F.col(c), _log2(m / u)).otherwise(
            _log2((F.lit(1.0) - m) / (F.lit(1.0) - u))
        )
    return enriched.select(
        *agree_cols,
        "n_match",
        "n_nonmatch",
        F.round(weight, 6).alias("weight_r6"),
    )


def survivorship_golden_record(
    records: DataFrame,
    cluster_col: str,
    recency_col: str,
    longest_fields: list[str] | None = None,
    latest_fields: list[str] | None = None,
    max_fields: list[str] | None = None,
) -> DataFrame:
    """Survivorship merge — the step AFTER linkage scoring: linked
    records (one cluster per real-world entity) collapse to one GOLDEN
    record by field-level survivorship rules, completing the
    record-linkage plane (similarity joins find candidates,
    Fellegi-Sunter scores them, this merges the survivors):

    - ``longest_fields``: longest non-null value wins (completeness
      rule — the fuller name beats the truncated one); ties broken by
      recency then the value itself, so the winner is total-ordered.
    - ``latest_fields``: non-null value of the most recent record wins
      (recency rule — the newest segment/address is the truth).
    - ``max_fields``: numeric max wins (e.g. balances where the
      larger observation dominates).

    Every rule is ONE max-of-struct aggregate (lexicographic struct
    compare, null inputs excluded by a when-guard), so the merge is a
    single map-side-combinable groupBy(cluster) — no window, no
    self-join. ``n_records`` and ``n_conflict_fields`` (fields with
    >1 distinct non-null value in the cluster) ride the same
    aggregate, making the merge auditable: a conflict count of zero
    means the golden record is unanimous, not adjudicated.

    Engine-portability: struct max compares field-by-field in both
    engines over exact integers/strings; no doubles anywhere."""
    longest_fields = longest_fields or []
    latest_fields = latest_fields or []
    max_fields = max_fields or []
    aggs = []
    for c in longest_fields:
        aggs.append(
            F.max(
                F.when(
                    F.col(c).isNotNull(),
                    F.struct(
                        F.length(F.col(c)).alias("l"),
                        F.col(recency_col).alias("r"),
                        F.col(c).alias("v"),
                    ),
                )
            )["v"].alias(c)
        )
    for c in latest_fields:
        aggs.append(
            F.max(
                F.when(
                    F.col(c).isNotNull(),
                    F.struct(
                        F.col(recency_col).alias("r"), F.col(c).alias("v")
                    ),
                )
            )["v"].alias(c)
        )
    for c in max_fields:
        aggs.append(F.max(F.col(c)).alias(c))
    all_fields = [*longest_fields, *latest_fields, *max_fields]
    if not all_fields:
        raise ValueError(
            "survivorship_golden_record needs at least one field in "
            "longest_fields / latest_fields / max_fields"
        )
    conflict = None
    for c in all_fields:
        term = (F.count_distinct(F.col(c)) > 1).cast("long")
        conflict = term if conflict is None else conflict + term
    aggs.append(F.count(F.lit(1)).cast("bigint").alias("n_records"))
    aggs.append(conflict.cast("bigint").alias("n_conflict_fields"))
    return records.groupBy(cluster_col).agg(*aggs)


def sorted_neighborhood_candidates(
    records: DataFrame,
    block_col: str,
    sort_cols: list[str],
    id_cols: list[str],
    window: int = 3,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995) — the
    candidate-generation tier BETWEEN exact blocking keys and the
    all-pairs this engine never does: sort records inside each coarse
    block by a fuzzy key and emit only pairs within ``window``
    positions of each other. Near-identical records (re-entries,
    typos, suffixed names) sort adjacent, so a tiny window captures
    them at O(n·w) candidates instead of O(n²) — the multi-pass
    in-block variant, which is the one that scales: the sort is a
    per-block WINDOW (partitioned row_number), never a global sort.

    Output: one row per candidate pair, carrying both records'
    ``id_cols`` (left/right prefixed) and ``rank_gap`` (1..window).

    Scale: one partitioned row_number + one band self-join on
    (block, rank) — the right side's rank ∈ [rank+1, rank+window]
    explodes ``window`` join keys per row, so the join stays an
    EQUI-join on (block, rank), shuffle-bounded by w·n."""
    rn = F.row_number().over(
        Window.partitionBy("__b").orderBy(
            *[F.col(c) for c in sort_cols],
            *[F.col(c) for c in id_cols],
        )
    )
    ranked = records.select(
        F.col(block_col).alias("__b"),
        *[F.col(c) for c in sort_cols],
        *[F.col(c) for c in id_cols],
    ).withColumn("__rn", rn)
    left = ranked.select(
        F.col("__b"),
        F.col("__rn"),
        *[F.col(c).alias(f"l_{c}") for c in id_cols],
    )
    # explode the window offsets on the PROBE side so the join is pure
    # equi on (block, rank) — Catalyst plans a hash join, not a range
    right = ranked.select(
        F.col("__b"),
        F.explode(
            F.array(*[F.lit(o) for o in range(1, window + 1)])
        ).alias("__gap"),
        (F.col("__rn") - F.col("__gap")).alias("__rn_left"),
        *[F.col(c).alias(f"r_{c}") for c in id_cols],
    )
    return left.join(
        right,
        (left["__b"] == right["__b"]) & (left["__rn"] == right["__rn_left"]),
    ).select(
        *[f"l_{c}" for c in id_cols],
        *[f"r_{c}" for c in id_cols],
        F.col("__gap").alias("rank_gap"),
    )
