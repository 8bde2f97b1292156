"""Corpus-frequency boilerplate detection: find word bigrams that recur
across many documents (navigation chrome, license headers, template
text) and score each document by how much of it is boilerplate — the
cross-document complement of the within-document repetition signals in
``operators/text.py``.

Scale design (100 TB corpus):
- Per-document bigrams are built with pure expressions and deduplicated
  executor-side (``array_distinct``) BEFORE the explode, so the
  document-frequency aggregation's shuffle carries each (doc, gram)
  once and map-side partial aggregation collapses repeats early.
- The threshold is a FRACTION of the corpus (boilerplate = "appears in
  >= x% of documents"), so the operator means the same thing at sf0.01
  and at 100 TB; the corpus count joins in as a broadcast scalar, never
  a driver-side collect in the plan-building path.
- The frequent set is tiny by construction (corpus-wide boilerplate is
  a short head, not the long tail), so it is **broadcast** back — the
  second pass over the corpus never shuffles, it streams through a
  broadcast hash join. If the head outgrew broadcast range the same
  plan falls back to a shuffled join on the gram key; the document side
  is already distinct so the join input is minimal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators.decontam import word_ngrams


def _doc_grams(df: DataFrame) -> DataFrame:
    return df.select(
        F.col("doc_id"),
        F.explode(F.array_distinct(word_ngrams("text", 2))).alias("ng"),
    )


def corpus_frequent_ngrams(
    df: DataFrame,
    *,
    min_doc_frac: float = 0.08,
) -> DataFrame:
    """Word bigrams appearing in at least ``min_doc_frac`` of all
    documents, with their document frequency: (ng, doc_freq).

    The corpus size enters as a broadcast one-row aggregate (a cross
    join Catalyst turns into BroadcastNestedLoopJoin over a single
    row), keeping the whole computation one lazy plan."""
    n_docs = df.select(F.count("*").alias("__n_docs"))
    return (
        _doc_grams(df)
        .groupBy("ng")
        .agg(F.count("*").alias("doc_freq"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("doc_freq") >= F.col("__n_docs") * min_doc_frac)
        .select("ng", "doc_freq")
    )


def boilerplate_fraction(
    df: DataFrame,
    *,
    min_doc_frac: float = 0.08,
) -> DataFrame:
    """Per-document boilerplate share: the fraction of its distinct
    word bigrams that are corpus-frequent (doc frequency at or above
    ``min_doc_frac`` of the corpus).

    Output: (doc_id, n_grams, n_frequent, boilerplate_frac) for every
    document with at least one gram. ``boilerplate_frac`` is an exact
    integer quotient rounded to 6dp, so the number is engine-portable.
    A curation funnel drops or truncates documents above a threshold."""
    grams = _doc_grams(df)
    frequent = corpus_frequent_ngrams(df, min_doc_frac=min_doc_frac)
    hits = (
        grams.join(F.broadcast(frequent.select("ng")), "ng")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_frequent"))
    )
    totals = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    return totals.join(hits, "doc_id", "left").select(
        F.col("doc_id"),
        F.col("n_grams"),
        F.coalesce(F.col("n_frequent"), F.lit(0)).cast("long").alias("n_frequent"),
        F.round(
            F.coalesce(F.col("n_frequent"), F.lit(0)) / F.col("n_grams"), 6
        ).alias("boilerplate_frac"),
    )
