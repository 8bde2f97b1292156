"""Readability and character-class profiling — corpus-composition
signals a pretraining data pipeline tracks next to the Gopher/LM quality
scores (operators/text.py, quality_rules.py): Flesch reading ease says
how syntactically dense a slice is; the charset profile says what a
"document" physically contains (a 40%-digit slice is tables/logs, not
prose) before any tokenizer sees it.

Exactness discipline: every per-document signal is an INTEGER count
(regexp match counts), group results are ratios of integer sums (never
averages of per-doc doubles — those would be partition-order dependent),
and the one double formula per row is a fixed expression tree rounded
once at the end, replayed verbatim by DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Alphabetic word runs / vowel-group syllable proxy / sentence enders.
# The vowel-group count is the standard cheap syllable estimator (each
# maximal [aeiouy]+ run ≈ one syllable); exact hyphenation is a
# dictionary problem no SQL engine should solve inline.
WORD_RE = "[a-z]+"
SYLLABLE_RE = "[aeiouy]+"
SENTENCE_RE = "[.!?]+"


def flesch_reading_ease(df: DataFrame) -> DataFrame:
    """Flesch reading ease per group, computed on the CONCATENATED
    group corpus (ratio of integer sums), one row per group:

        (group, n_docs, n_words, n_sentences, n_syllables, flesch_r6)

    flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)

    ~90-100 reads like children's prose, 0-30 like academic text;
    negative values or wild per-group swings usually mean boilerplate
    or non-prose contamination rather than real prose complexity.
    ``flesch_r6`` is NULL when a group has no words (division guard).
    Per-document sentence counts are floored at 1 (a fragment with no
    terminal punctuation is one sentence, the standard convention).

    Scale: one scan, three regexp-count integers per document, one
    grouped sum with map-side combine; no second pass, no window."""
    lower = F.lower(F.col("text"))
    words = F.size(F.regexp_extract_all(lower, F.lit(WORD_RE), 0))
    syllables = F.size(F.regexp_extract_all(lower, F.lit(SYLLABLE_RE), 0))
    sentences = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(SENTENCE_RE), 0)),
        F.lit(1),
    )
    agg = df.groupBy(F.col("lang").alias("grp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(words).cast("bigint").alias("n_words"),
        F.sum(sentences).cast("bigint").alias("n_sentences"),
        F.sum(syllables).cast("bigint").alias("n_syllables"),
    )
    w = F.col("n_words").cast("double")
    s = F.col("n_sentences").cast("double")
    y = F.col("n_syllables").cast("double")
    flesch = F.lit(206.835) - F.lit(1.015) * (w / s) - F.lit(84.6) * (y / w)
    return agg.select(
        F.col("grp").alias("lang"),
        "n_docs",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(F.when(F.col("n_words") > 0, flesch), 6).alias("flesch_r6"),
    ).orderBy("lang")


def charset_profile(df: DataFrame) -> DataFrame:
    """Character-class composition per group: shares of ASCII letters,
    digits, whitespace, and everything else, from integer character
    counts over the concatenated group corpus. One row per group:

        (group, n_docs, n_chars, letter_share_r6, digit_share_r6,
         space_share_r6, other_share_r6)

    The "other" share is the watch-signal: a prose corpus sits at a few
    percent (punctuation); a spike means markup, encodings, or a
    non-Latin script landed in a slice labeled otherwise.

    Scale: one scan, three regexp-count integers + one length per
    document, one grouped sum with map-side combine."""
    t = F.col("text")
    letters = F.size(F.regexp_extract_all(t, F.lit("[A-Za-z]"), 0))
    digits = F.size(F.regexp_extract_all(t, F.lit("[0-9]"), 0))
    # explicit class, not \s: Java regex \s includes \x0B where RE2's
    # does not — the explicit class is engine-identical. The space is
    # spelled \x20 so the pattern survives SQL-side whitespace
    # normalization verbatim (registry.register collapses whitespace).
    spaces = F.size(
        F.regexp_extract_all(t, F.lit("[\\x20\\t\\n\\r\\f]"), 0)
    )
    agg = df.groupBy(F.col("lang").alias("grp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.length(t)).cast("bigint").alias("n_chars"),
        F.sum(letters).cast("bigint").alias("__l"),
        F.sum(digits).cast("bigint").alias("__d"),
        F.sum(spaces).cast("bigint").alias("__s"),
    )
    total = F.col("n_chars").cast("double")
    share = lambda c: F.round(  # noqa: E731
        F.when(F.col("n_chars") > 0, c.cast("double") / total), 6
    )
    return agg.select(
        F.col("grp").alias("lang"),
        "n_docs",
        "n_chars",
        share(F.col("__l")).alias("letter_share_r6"),
        share(F.col("__d")).alias("digit_share_r6"),
        share(F.col("__s")).alias("space_share_r6"),
        share(F.col("n_chars") - F.col("__l") - F.col("__d") - F.col("__s")).alias(
            "other_share_r6"
        ),
    ).orderBy("lang")
