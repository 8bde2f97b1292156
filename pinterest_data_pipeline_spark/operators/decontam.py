"""Benchmark decontamination: flag training documents that share word
n-grams with a held-out evaluation set — the standard pre-training
hygiene step (drop or down-weight train docs that leak eval content).

Scale design (100 TB corpus, MB-scale benchmark):
- n-grams are built per-row with pure expressions (split → sequence →
  slice → array_join), deduplicated executor-side with
  ``array_distinct`` BEFORE the explode, so the shuffle never carries a
  document's repeated n-grams.
- The eval side of the match is tiny by construction (benchmarks are
  thousands of documents, not billions), so its distinct n-gram set is
  **broadcast** — the corpus-side scan streams through a broadcast hash
  join with zero shuffle of the training n-grams. If the eval set ever
  outgrew broadcast range, the same plan degrades gracefully to a
  hash-partitioned join on the n-gram key; a bloom-filter pre-pass
  (``spark.sql.optimizer.runtime.bloomFilter.enabled``) would keep the
  shuffled volume near the true-positive rate.
- Output is per-document match counts (one aggregation on ``doc_id``),
  never materialized pair lists.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators.chunking import ws_tokens


def word_ngrams(text: Column | str, n: int) -> Column:
    """Array of space-joined word ``n``-grams of the whitespace tokens.

    Documents shorter than ``n`` tokens yield an empty array (guarded —
    ``sequence`` with a descending range would otherwise error under
    ANSI). 1-based ``slice`` mirrors DuckDB's ``list_slice`` so oracle
    SQL can reproduce the grams byte-for-byte.

    The token array is bound as a lambda variable of a single-element
    ``transform`` (the ``dup_trigram_frac`` trick): subexpression
    elimination is disabled inside HOF lambdas, so referencing the
    tokenize expression directly from the per-gram lambda would re-run
    the regex split once per gram — O(tokens²) per row."""

    def _grams_of(t: Column) -> Column:
        return F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.array_join(F.slice(t, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.get(F.transform(F.array(ws_tokens(text)), _grams_of), 0)


def ngram_contamination(df: DataFrame, eval_pred: Column) -> DataFrame:
    """Per-training-document count of distinct word 4-grams shared
    with the evaluation slice (``eval_pred`` selects eval rows).

    Returns (doc_id, n_shared) for contaminated documents only — a
    downstream anti-join against this frame is the "drop leaked docs"
    step. Deterministic: distinct-gram counting has no ordering
    dependence."""
    grams = df.select(
        F.col("doc_id"),
        eval_pred.alias("is_eval"),
        F.explode(F.array_distinct(word_ngrams("text", 4))).alias("ng"),
    )
    eval_grams = (
        grams.filter(F.col("is_eval")).select("ng").distinct()
    )
    train_grams = grams.filter(~F.col("is_eval"))
    return (
        train_grams.join(F.broadcast(eval_grams), "ng")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )


def jaccard_contamination(df: DataFrame, eval_pred: Column) -> DataFrame:
    """Fuzzy decontamination: per training document, the maximum word
    3-gram Jaccard similarity against ANY evaluation document (``eval_pred``
    selects eval rows), plus how many eval documents it overlaps at all.

    Where :func:`ngram_contamination` flags exact shared grams, this
    catches paraphrased leaks — a train doc that covers most of an eval
    doc's grams scores near 1 even if no single long span matches.

    Scale: the eval side (grams + per-doc gram counts) is broadcast;
    the per-pair intersection groupBy shuffles only (train_doc, eval_doc)
    pairs that share at least one gram — output-bound, never
    |train|x|eval|. Jaccard = inter/(a+b-inter) is an exact integer
    quotient (engine-portable), rounded to 6dp."""
    grams = df.select(
        F.col("doc_id"),
        eval_pred.alias("is_eval"),
        F.explode(F.array_distinct(word_ngrams("text", 3))).alias("ng"),
    )
    sizes = grams.groupBy("doc_id", "is_eval").agg(
        F.count("*").alias("n_grams")
    )
    eval_side = (
        grams.filter(F.col("is_eval"))
        .join(
            sizes.filter(F.col("is_eval")).select("doc_id", "n_grams"),
            "doc_id",
        )
        .select(
            F.col("doc_id").alias("eval_id"),
            "ng",
            F.col("n_grams").alias("eval_grams"),
        )
    )
    train_side = grams.filter(~F.col("is_eval")).select("doc_id", "ng")
    inter = (
        train_side.join(F.broadcast(eval_side), "ng")
        .groupBy("doc_id", "eval_id", "eval_grams")
        .agg(F.count("*").alias("inter"))
    )
    train_sizes = sizes.filter(~F.col("is_eval")).select("doc_id", "n_grams")
    jacc = inter.join(train_sizes, "doc_id").select(
        F.col("doc_id"),
        (
            F.col("inter")
            / (F.col("n_grams") + F.col("eval_grams") - F.col("inter"))
        ).alias("j"),
    )
    return (
        jacc.groupBy("doc_id")
        .agg(
            F.round(F.max("j"), 6).alias("max_jaccard"),
            F.count("*").alias("n_eval_overlaps"),
        )
        .filter(F.col("max_jaccard") >= 0.0)
    )


def embedding_contamination(
    df: DataFrame,
    eval_pred: Column,
    threshold: float = 0.8,
) -> DataFrame:
    """Semantic decontamination: flag training vectors whose cosine
    similarity to ANY evaluation vector (``eval_pred`` selects eval
    rows) reaches ``threshold`` — the embedding-space complement of the
    n-gram matchers above, catching translated or heavily reworded eval
    leaks that share no surface n-grams.

    Returns (vec_id, n_eval_hits, top_score) for contaminated vectors
    only, same contract as :func:`ngram_contamination` (anti-join the
    result to drop leaked rows). ``top_score`` is cosine rounded to 6dp
    (the repo's engine-portable rounding, operators/similarity.cosine).

    Scale: eval sets are benchmark-sized (thousands), so the eval side —
    with norms precomputed once — is BROADCAST and the training corpus
    streams through a single scan with no shuffle of vectors; the only
    shuffle carries (train_id) partial aggregates of hit counts. If the
    eval set outgrew broadcast range, the same plan degrades to the
    banded hyperplane-LSH join (operators/similarity.lsh_near_duplicates)
    with this exact scorer as the verify stage."""
    from pinterest_data_pipeline_spark.operators.parallel import fan_out
    from pinterest_data_pipeline_spark.operators.similarity import (
        dot,
        l2_norm,
    )

    # Zero-norm vectors cannot be cosine-scored: Spark yields NULL on
    # 0/0 while DuckDB doubles yield inf/NaN, so a degenerate row could
    # split the engines. A zero vector is similar to nothing — drop it
    # from BOTH sides before scoring (mirrored in every oracle).
    evals = (
        df.filter(eval_pred)
        .select(
            F.col("vec_id").alias("__eval_id"),
            F.col("embedding").alias("__e_vec"),
            l2_norm(F.col("embedding")).alias("__e_norm"),
        )
        .filter(F.col("__e_norm") > 0)
    )
    train = (
        fan_out(df.filter(~eval_pred))
        .select(
            F.col("vec_id"),
            F.col("embedding").alias("__t_vec"),
            l2_norm(F.col("embedding")).alias("__t_norm"),
        )
        .filter(F.col("__t_norm") > 0)
    )
    scored = train.crossJoin(F.broadcast(evals)).select(
        F.col("vec_id"),
        F.round(
            dot(F.col("__t_vec"), F.col("__e_vec"))
            / (F.col("__t_norm") * F.col("__e_norm")),
            6,
        ).alias("__score"),
    )
    return (
        scored.filter(F.col("__score") >= threshold)
        .groupBy("vec_id")
        .agg(
            F.count("*").alias("n_eval_hits"),
            F.max("__score").alias("top_score"),
        )
    )
