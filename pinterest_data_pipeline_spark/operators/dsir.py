"""DSIR-style data selection: hashed-n-gram importance resampling.

Implements the Data Selection via Importance Resampling recipe
(Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling" — arXiv:2302.03169) Spark-first:

1. featurize every document as counts over ``_BUCKETS`` hashed word
   uni+bigram features (the paper's hashed n-gram bag),
2. fit two add-one-smoothed categorical models over the buckets — one
   on the TARGET domain (the curated seed corpus), one on the RAW pool,
3. score every raw document with the importance log-weight
   ``sum_f count_f * (ln p_target[f] - ln p_raw[f])``,
4. resample without replacement via the Gumbel-top-k trick
   (``logweight + Gumbel(0,1)`` noise, deterministic here: the uniform
   is derived from a portable md5 hash of the document id, so retries,
   engines and partitionings all draw identical noise).

Scale shape (the 100 TB question):
- featurization is one explode + one (doc, bucket) count shuffle —
  O(tokens), the same cost class as every n-gram operator here;
- both bucket models are ONE further groupBy over ≤ ``_BUCKETS`` keys
  with conditional partial aggregates — the model is a constant-size
  (``_BUCKETS``-row) relation regardless of corpus size, broadcast back;
- per-doc scoring is a broadcast hash join + one doc-keyed sum shuffle;
- the Gumbel top-k is a ``TakeOrderedAndProject`` (no global sort
  materialization) — only k rows ever reach the driver.

Every hash is the portable md5-prefix form (operators/dedup.py:54) so
the DuckDB oracle replays the WHOLE pipeline bit-identically — bucket
ids, smoothed log-ratios, Gumbel draws and the final ranking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from pinterest_data_pipeline_spark.operators.chunking import ws_tokens
from pinterest_data_pipeline_spark.operators.decontam import word_ngrams
from pinterest_data_pipeline_spark.operators.dedup import portable_hash32

#: 2^32 as a double — the Gumbel uniform's denominator.
_TWO32 = float(1 << 32)


_BUCKETS = 4096


def hashed_ngram_features(df: DataFrame) -> DataFrame:
    """(id, bucket, cnt) counts of hashed word uni+bigrams per document.

    The feature space is the fixed ``[0, _BUCKETS)`` integer range — the
    model built on top of it is corpus-size-independent. One explode +
    one (id, bucket) count aggregation (map-side partials). ``fan_out``
    first: the uni+bigram explode and the partial aggregation otherwise
    run inside a single-split scan task (operators/parallel)."""
    from pinterest_data_pipeline_spark.operators.parallel import fan_out

    grams = F.concat(ws_tokens("text"), word_ngrams("text", 2))
    return (
        fan_out(df).select(F.col("doc_id"), F.explode(grams).alias("__g"))
        .select(
            "doc_id",
            (portable_hash32(F.col("__g")) % F.lit(_BUCKETS)).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def importance_log_ratios(
    feats: DataFrame,
    target_ids: DataFrame,
) -> DataFrame:
    """Per-bucket ``ln p_target - ln p_raw`` under add-one smoothing.

    ``target_ids`` is a one-column DataFrame of the TARGET document ids
    (the curated seed); every other document in ``feats`` is the RAW
    pool. Output is ≤ ``_BUCKETS`` rows — broadcastable by construction.

    The smoothed log-ratio is
    ``ln(ct+1) - ln(T+B) - ln(cr+1) + ln(R+B)`` with ``ct``/``cr`` the
    bucket's target/raw counts and ``T``/``R`` the model totals — kept
    as four explicit ln terms so the oracle reproduces the identical
    floating-point expression tree."""
    flagged = feats.join(
        F.broadcast(
            target_ids.select(F.col("doc_id")).withColumn(
                "__tgt", F.lit(True)
            )
        ),
        "doc_id",
        "left",
    ).withColumn("__tgt", F.coalesce(F.col("__tgt"), F.lit(False)))
    lm = flagged.groupBy("bucket").agg(
        F.sum(F.when(F.col("__tgt"), F.col("cnt")).otherwise(F.lit(0))).alias(
            "ct"
        ),
        F.sum(
            F.when(~F.col("__tgt"), F.col("cnt")).otherwise(F.lit(0))
        ).alias("cr"),
    )
    totals = lm.agg(
        F.sum("ct").cast("double").alias("__t_total"),
        F.sum("cr").cast("double").alias("__r_total"),
    )
    b = F.lit(float(_BUCKETS))
    return (
        lm.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log(F.col("ct").cast("double") + F.lit(1.0))
                - F.log(F.col("__t_total") + b)
                - F.log(F.col("cr").cast("double") + F.lit(1.0))
                + F.log(F.col("__r_total") + b)
            ).alias("log_ratio"),
        )
    )


def importance_weights(
    df: DataFrame,
    target_pred: Column,
) -> DataFrame:
    """Per-RAW-document DSIR importance log-weight.

    ``target_pred`` marks the target-domain rows (these fit the target
    model and are excluded from scoring). Output:
    (id, n_feats, logweight) with the weight rounded to 6dp — sums of
    at most a-few-hundred ln terms per document, so cross-engine float
    noise (~1e-13 relative) sits far below the rounding grain."""
    feats = hashed_ngram_features(df)
    ratios = importance_log_ratios(feats, df.filter(target_pred).select("doc_id"))
    raw_ids = df.filter(~target_pred).select("doc_id")
    return (
        feats.join(raw_ids, "doc_id")
        .join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_feats"),
            F.round(
                F.sum(F.col("cnt").cast("double") * F.col("log_ratio")), 6
            ).alias("logweight"),
        )
    )


def gumbel_noise(id_col: Column) -> Column:
    """Deterministic standard Gumbel draw per id: the uniform is the
    portable 32-bit hash of ``dsir-gumbel:id`` mapped to the open unit interval
    (the +0.5 offset keeps it off both endpoints), then
    ``-ln(-ln(u))``. Hash-derived, so identical across retries, engine
    restarts and the DuckDB oracle."""
    u = (
        portable_hash32(
            F.concat(F.lit("dsir-gumbel:"), id_col.cast("string"))
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(_TWO32)
    return -F.log(-F.log(u))


def gumbel_topk_selection(
    df: DataFrame,
    target_pred: Column,
    k: int,
) -> DataFrame:
    """DSIR selection proper: sample ``k`` raw documents without
    replacement with probability ∝ exp(logweight), via the Gumbel
    top-k identity (the k largest ``logweight + Gumbel`` keys are
    exactly such a sample). Output (rank, id, logweight, gumbel_key),
    keys rounded to 6dp BEFORE ranking (id tiebreak) so the order is
    engine-stable; planned as TakeOrderedAndProject — no global sort."""
    weights = importance_weights(df, target_pred)
    keyed = weights.withColumn(
        "gumbel_key",
        F.round(F.col("logweight") + gumbel_noise(F.col("doc_id")), 6),
    )
    # limit(k) FIRST (TakeOrderedAndProject — only k rows survive the
    # scan), then the rank window runs over those k rows alone; the
    # single-partition window is k-sized by construction, never
    # corpus-sized.
    return (
        keyed.orderBy(F.desc("gumbel_key"), F.asc("doc_id"))
        .limit(k)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("gumbel_key"), F.asc("doc_id")))
            .cast("int"),
        )
        .select("rank", "doc_id", "logweight", "gumbel_key")
    )
