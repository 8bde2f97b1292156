"""Deterministic span-corruption planning — the T5/UL2 denoising
recipe (Raffel et al. 2020 §3.1.4: corrupt ~15% of tokens in mean-
length-3 spans) as a REPLAYABLE PLAN instead of a dataloader-time
random draw. Planning corruption in the engine buys three things a
random.random() dataloader can't give: (1) exact reproducibility of a
training run from the table alone, (2) auditability — corruption rate
and span placement are queryable relations, (3) a stable contract for
resumption (restarting shard 7 re-derives the identical masks).

Placement discipline: a document with n tokens gets
``n_spans = max(1, min(n div L, round(0.05·n)))`` spans of fixed
length L = 3 (≈15% of tokens at the 0.05 rate), one per EQUAL SEGMENT
of the token axis, offset inside its segment by the portable
md5-prefix hash of (doc, span index). Segments are disjoint by
construction, so spans never overlap and no rejection loop exists —
every quantity is a closed-form integer function of (n, doc_id, j)
that any engine replays bit-identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SPAN_LEN = 3


def token_count(text: Column) -> Column:
    """Whitespace token count, the corpus convention."""
    return F.size(F.split(F.trim(text), r"\s+"))


def span_corruption_plan(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """One row per document: the corruption plan summary
    (n_tokens, n_spans, corrupted_tokens, corruption_ppm,
    start_checksum, first_start, last_start) — all exact integers.
    ``start_checksum`` is Σ span starts, the order-independent
    fingerprint that pins every placement without a per-span row
    explosion; first/last starts bound the placement range.

    Documents with fewer than ``SPAN_LEN`` tokens are excluded (no
    legal span fits).

    Scale: one scan, a bounded explode of n_spans ≤ 0.05·n + 1 index
    rows per document, one map-side-combinable aggregate keyed by the
    document."""
    from pinterest_data_pipeline_spark.operators.dedup import portable_hash32

    n = token_count(F.col(text_col))
    n_spans = F.greatest(
        F.lit(1),
        F.least(
            (n / F.lit(SPAN_LEN)).cast("long"),
            ((n * 5 + 50) / F.lit(100)).cast("long"),
        ),
    )
    base = df.select(
        F.col(id_col).alias("__id"),
        n.cast("long").alias("__n"),
        n_spans.alias("__k"),
    ).where(F.col("__n") >= SPAN_LEN)
    spans = base.select(
        "__id",
        "__n",
        "__k",
        F.explode(
            F.sequence(F.lit(0), F.col("__k") - 1)
        ).alias("__j"),
    )
    seg_len = (F.col("__n") / F.col("__k")).cast("long")
    offset = portable_hash32(
        F.concat_ws(
            ":",
            F.lit("t5span"),
            F.col("__id").cast("string"),
            F.col("__j").cast("string"),
        )
    ) % (seg_len - F.lit(SPAN_LEN) + 1)
    start = F.col("__j") * seg_len + offset
    placed = spans.withColumn("__start", start)
    return (
        placed.groupBy("__id")
        .agg(
            F.max("__n").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_spans"),
            (F.count(F.lit(1)) * SPAN_LEN).alias("corrupted_tokens"),
            F.expr(
                f"count(1) * {SPAN_LEN} * 1000000 div max(__n)"
            ).alias("corruption_ppm"),
            F.sum("__start").alias("start_checksum"),
            F.min("__start").alias("first_start"),
            F.max("__start").alias("last_start"),
        )
        .withColumnRenamed("__id", "doc_id")
    )
