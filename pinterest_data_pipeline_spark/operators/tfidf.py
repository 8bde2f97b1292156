"""Corpus-statistics text scoring: TF-IDF term ranking and unigram
language-model log-probability — the "statistical" tier of quality
signals, complementing the rule-based tier in
:mod:`operators.quality_rules` (charter extension, SURVEY.md §2.12; the
reference's text surface stops at sentinel cleanup, reference
README.md:371).

Single-pass shape: the corpus is tokenized and aggregated to the
per-(doc, term) ``tf`` relation ONCE, and the corpus-wide model
statistics (document frequency / token frequency) are attached with a
window over the ``term`` key instead of a groupBy + self-join — a
self-join would re-run the tokenize + aggregate lineage per consumer
(Spark only reuses exchanges for bit-identical subplans, which join
reordering breaks). The only second scan is a scalar corpus total
(count / token sum), which is a shuffle-free partial aggregate
broadcast into the plan — never a driver collect.

Shuffle budget per scorer: (doc, term) for tf → term for the model
window → doc for the final ranking/aggregation. All three are
map-side-combined or sort-window stages over the vocabulary-sized tf
relation, not the raw token stream. No Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators.chunking import ws_tokens


def term_frequencies(df: DataFrame) -> DataFrame:
    """Per-(document, term) whitespace-token counts — the shared input
    relation of both scorers. One explode + one hash aggregate; the
    explode streams, nothing per-doc is materialized."""
    toks = df.select(
        F.col("doc_id"), F.explode(ws_tokens("text")).alias("term")
    )
    return toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF
    (tf × ln(n_docs / df)).

    Ranking uses the ROUNDED (6dp) score with the term string as
    tie-break, so the top-k cut is deterministic and engine-portable:
    equal (tf, df) pairs produce bit-identical scores on any engine,
    and near-ties beyond 6dp collapse into the explicit term order.

    Document frequency is ``count(*) over (partition by term)`` on the
    tf relation; the corpus size is a broadcast one-row aggregate
    (docs with ≥1 token ≡ distinct docs in tf). The per-doc top-k is a
    ``row_number`` filter Spark plans as WindowGroupLimit — partial
    top-k before the final sort."""
    tf = term_frequencies(df)
    n_docs = (
        df.filter(F.size(ws_tokens("text")) > 0)
        .agg(F.count("*").alias("n_docs"))
    )
    scored = (
        tf.withColumn(
            "df", F.count("*").over(Window.partitionBy("term"))
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("doc_id"),
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return scored.withColumn(
        "rk", F.row_number().over(w).cast("int")
    ).filter(F.col("rk") <= k)


def unigram_logprob(df: DataFrame) -> DataFrame:
    """Mean per-token natural-log probability of each document under the
    corpus's own unigram model — the CCNet-style "LM quality" signal
    (there, a pretrained KenLM; here, self-trained on the corpus, which
    needs no external artifact and still separates fluent from
    gibberish/outlier documents: rare-token-heavy docs score low).

    Output: (doc_id, n_tokens, avg_logprob) with avg_logprob rounded to
    6dp — the mean of ≤ a-few-thousand ln terms divided by the count, so
    cross-engine float-sum ordering noise (≈1e-13 relative) is far below
    the rounding grain.

    Corpus token counts are ``sum(tf) over (partition by term)`` on the
    tf relation; the corpus token total is a broadcast shuffle-free
    scalar aggregate over the documents scan (Σ per-doc token counts ≡
    Σ model counts)."""
    tf = term_frequencies(df)
    total = (
        df.agg(
            F.sum(F.size(ws_tokens("text")))
            .cast("double")
            .alias("total")
        )
    )
    return (
        tf.withColumn(
            "cnt", F.sum("tf").over(Window.partitionBy("term"))
        )
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.round(
                F.sum(
                    F.col("tf")
                    * F.log(F.col("cnt").cast("double") / F.col("total"))
                )
                / F.sum("tf"),
                6,
            ).alias("avg_logprob"),
        )
    )


_BIGRAM_LAMBDA = 0.75


def bigram_logprob(df: DataFrame) -> DataFrame:
    """Mean per-pair log probability of each document under a
    self-trained INTERPOLATED bigram LM —

        p(w2 | w1) = lam * c(w1,w2)/c1(w1) + (1-lam) * cnt(w2)/T

    with lam = 0.75, ``c1(w1)`` the count of pairs starting with w1 and the
    unigram backoff keeping the probability nonzero for any in-corpus
    token. The order-sensitive step beyond :func:`unigram_logprob`:
    shuffled-word gibberish keeps its unigram score but collapses
    here. Documents with fewer than two tokens have no pairs and are
    excluded (the caller left-joins if it wants them).

    Output: (id, n_pairs, avg_bigram_logprob) rounded to 6dp — an
    average of at most a-few-hundred ln terms, so cross-engine
    float-sum ordering noise sits far below the rounding grain; the
    interpolation expression tree is kept identical on both engines so
    each ln input matches bit-for-bit.

    Scale: the pair relation is O(tokens) (zip of the token array with
    its own tail, no join); the bigram/first-token/unigram models are
    vocabulary-bounded aggregates with map-side partials; scoring
    joins shuffle on word keys — the same cost class as the TF-IDF
    pipeline above."""
    toks = ws_tokens("text")
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    prs = df.select(
        F.col("doc_id"),
        F.explode(
            F.zip_with(
                F.slice(toks, 1, n1),
                F.slice(toks, 2, n1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("__p"),
    ).select("doc_id", F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2"))
    big = prs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    )
    fst = big.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    uni = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    total = uni.agg(F.sum("cnt").cast("double").alias("__total"))
    p = (
        F.lit(_BIGRAM_LAMBDA)
        * (F.col("c12").cast("double") / F.col("c1").cast("double"))
        + F.lit(1.0 - _BIGRAM_LAMBDA)
        * (F.col("cnt").cast("double") / F.col("__total"))
    )
    return (
        prs.join(big, ["w1", "w2"])
        .join(fst, "w1")
        .join(uni, F.col("w2") == F.col("w"))
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.avg(F.log(p)), 6).alias("avg_bigram_logprob"),
        )
    )


def feature_hash_buckets(df: DataFrame) -> DataFrame:
    """The hashing trick's bucket histogram (Weinberger et al., ICML
    2009): every token maps to ``hash(token) mod 256``, the
    fixed-width feature space a streaming/online model trains in
    without a vocabulary pass. This audit view reports, for the
    10 heaviest buckets, the token mass and the collision degree
    (distinct tokens sharing the bucket) — the quantity that says
    whether 256 buckets are too few for the corpus.

    The hash is the repo's portable md5-prefix (operators/dedup), so a
    SQL oracle replays bucket ids bit-for-bit. Returns
    (bucket, n_tokens, n_distinct_tokens) ordered by
    (n_tokens DESC, bucket ASC), cut to 10.

    Scale: explode → two-level aggregate (token first — map-side
    combine collapses repeats — then bucket), TakeOrderedAndProject
    cut. The bucket relation is at most 256 rows."""
    from pinterest_data_pipeline_spark.operators.dedup import portable_hash32

    toks = df.select(
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0
            )
        ).alias("__w")
    )
    per_token = toks.groupBy("__w").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    return (
        per_token.select(
            (portable_hash32(F.col("__w")) % 256).alias("bucket"),
            F.col("__n"),
        )
        .groupBy("bucket")
        .agg(
            F.sum("__n").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_tokens"),
        )
        .orderBy(F.col("n_tokens").desc(), F.col("bucket").asc())
        .limit(10)
    )
