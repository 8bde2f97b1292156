"""First-order Markov model quality over event sequences — the number
that says whether the learned transition matrix
(`event_transition_matrix`) actually explains user behavior: the
average log-loss of observed transitions under their own empirical
model, and its exp (perplexity). Perplexity near the state count means
behavior is unpredictable (uniform); near 1 means deterministic paths.

Identity that keeps it one aggregate: with n_pn the (prev, next) count
and n_p the prev marginal, the training log-loss is

    −Σ_cells n_pn · ln(n_pn / n_p) / N

— computable entirely from the |states|² matrix, never a second pass
over the corpus. The cell terms fold in sorted (prev, next) order (the
bm25/chi-square discipline) so the double sum is engine-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def markov_logloss(df: DataFrame) -> DataFrame:
    """ONE row: (n_transitions, n_states, n_cells, avg_logloss_r6,
    perplexity_r6) for the first-order model fitted to and evaluated on
    the same sequences (the in-sample model-capacity readout; held-out
    evaluation is the same formula over a hash-split — `hash_split`).

    Sequence order is (ts, tiebreak) — deterministic under concurrent
    events, matching `event_transition_matrix`. NULL-``ts`` rows
    are dropped before windowing, the family-wide contract (see
    `top_path_trigrams`): an event with no timestamp has no sequence
    position.

    Scale: one per-subject lag window (single shuffle on subject), one
    aggregate down to the ≤|states|² cell table; the fold runs over
    those cells."""
    seq_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = df.where(F.col("ts").isNotNull()).select(
        F.col("event_type").alias("__next"),
        F.lag("event_type").over(seq_w).alias("__prev"),
    ).where(F.col("__prev").isNotNull())
    cells = seq.groupBy("__prev", "__next").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n_pn")
    )
    prev_tot = cells.groupBy("__prev").agg(
        F.sum("__n_pn").cast("bigint").alias("__n_p")
    )
    terms = cells.join(prev_tot, "__prev").select(
        "__prev",
        "__next",
        "__n_pn",
        (
            F.col("__n_pn").cast("double")
            * F.log(
                F.col("__n_pn").cast("double") / F.col("__n_p").cast("double")
            )
        ).alias("__term"),
    )
    folded = terms.agg(
        F.sum("__n_pn").cast("bigint").alias("n_transitions"),
        # distinct states over prev ∪ next — count_distinct(__prev)
        # alone would omit a state that only ever ends sequences, and
        # the "perplexity near the state count means uniform" reading
        # needs the true ceiling. |states| is the event-type vocabulary
        # (tiny), so the two collect_sets are metadata-sized.
        F.size(
            F.array_union(
                F.collect_set("__prev"), F.collect_set("__next")
            )
        )
        .cast("bigint")
        .alias("n_states"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct("__prev", "__next", "__term"))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["__term"],
        ).alias("__ll_sum"),
    )
    avg_ll = -F.col("__ll_sum") / F.col("n_transitions").cast("double")
    return folded.select(
        "n_transitions",
        "n_states",
        "n_cells",
        F.round(avg_ll, 6).alias("avg_logloss_r6"),
        F.round(F.exp(avg_ll), 6).alias("perplexity_r6"),
    )


def top_path_trigrams(
    df: DataFrame,
    top_k: int = 20,
) -> DataFrame:
    """Sequential-pattern mining, PrefixSpan's length-3 workhorse tier:
    the ``top_k`` most frequent CONSECUTIVE state trigrams across all
    subject sequences, with their occurrence support and subject reach:

        (path, support, n_subjects, path_rank)

    ``path`` is 'a>b>c'; ``support`` counts occurrences (a subject can
    contribute many); ``n_subjects`` counts distinct subjects containing
    the trigram at least once — the (frequency, reach) pair that
    separates "one bot loops this path" from "everyone does this".
    First-order transition matrices (`event_transition_matrix`) cannot
    see order-3 structure: a>b>c vs c>b>a have identical bigram rows.

    Ordering is (ts, tiebreak) per subject — deterministic under
    concurrent events, matching `markov_logloss`. Rows with a NULL
    ``ts`` are DROPPED before windowing: an event with no
    timestamp has no position in a sequence, and keeping it would
    make the result engine-dependent (Spark ASC windows order NULL
    first, ANSI engines commonly last). The top-k order is
    (support DESC, path ASC), a total order, so LIMIT is deterministic
    and an oracle replays it.

    Scale: one per-subject lead window (single shuffle on subject), one
    grouped (count, count_distinct) on the trigram, then
    TakeOrderedAndProject for the LIMIT — no global sort materializes
    the full trigram relation."""
    seq_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        df.where(F.col("ts").isNotNull())
        .select(
            F.col("user_id").alias("__subj"),
            F.col("event_type").alias("__s1"),
            F.lead("event_type", 1).over(seq_w).alias("__s2"),
            F.lead("event_type", 2).over(seq_w).alias("__s3"),
        )
        .where(
            # s3 NULL marks the sequence tail; s1/s2/s3 must ALL be
            # non-NULL states — concat_ws silently skips NULLs, which
            # would alias (a, NULL, c) to the 2-gram-looking "a>c"
            F.col("__s1").isNotNull()
            & F.col("__s2").isNotNull()
            & F.col("__s3").isNotNull()
        )
        .select(
            "__subj",
            F.concat_ws(">", "__s1", "__s2", "__s3").alias("path"),
        )
    )
    counted = tri.groupBy("path").agg(
        F.count(F.lit(1)).cast("bigint").alias("support"),
        F.count_distinct("__subj").cast("bigint").alias("n_subjects"),
    )
    top = counted.orderBy(
        F.col("support").desc(), F.col("path").asc()
    ).limit(top_k)
    w = Window.orderBy(F.col("support").desc(), F.col("path").asc())
    return top.withColumn(
        "path_rank", F.row_number().over(w).cast("int")
    ).orderBy("path_rank")
