"""Gopher-style document quality rules: the rule-based pre-filter a
pre-training corpus runs before any model-based scoring (word-count
bounds, mean word length, alphabetic-word fraction, stopword presence
— the heuristic family published with Gopher/MassiveText and reused by
most open pipelines since).

Scale design: every rule is a pure per-row expression over the
whitespace token array — no shuffle, no UDF, whole-stage codegen from
the parquet scan to the output. At 100 TB this is the cheapest possible
pass (scan-bound), which is exactly why rule filters run FIRST in a
curation funnel: they cut volume before any shuffling stage sees it.

Cross-engine determinism: every fraction is a quotient of two exact
integers (token counts / char sums), so Spark and an ANSI-SQL oracle
produce bit-identical doubles; results are additionally rounded to 6dp.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators.chunking import ws_tokens

#: Subset of the classic English stopword-presence list (Gopher uses
#: {the, be, to, of, and, that, have, with}); "a"/"in" added so the
#: synthetic fixture vocabulary exercises counts > 1.
STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with", "a", "in",
)


def gopher_quality_flags(df: DataFrame) -> DataFrame:
    """Per-document quality signals and the combined pass flag.

    Output: (doc_id, n_words, mean_word_len, alpha_frac,
    n_stop_present, passes_rules) — one row per document with at least
    one token. ``passes_rules`` is an int (1/0) so external comparators
    hash it identically across engines."""
    toks = ws_tokens("text")
    n_words = F.size(toks).cast("long")
    char_sum = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_len = F.round(char_sum / n_words, 6)
    alpha_frac = F.round(
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))) / n_words, 6
    )
    n_stop = sum(
        (F.array_contains(toks, w).cast("int") for w in STOPWORDS),
        F.lit(0),
    )
    passes = (
        n_words.between(50, 100_000)
        & mean_len.between(3.0, 10.0)
        & (alpha_frac >= 0.8)
        & (n_stop >= 2)
    )
    return (
        df.select(
            F.col("doc_id"),
            n_words.alias("n_words"),
            mean_len.alias("mean_word_len"),
            alpha_frac.alias("alpha_frac"),
            n_stop.cast("int").alias("n_stop_present"),
            passes.cast("int").alias("passes_rules"),
        )
        .filter(F.col("n_words") > 0)
    )
