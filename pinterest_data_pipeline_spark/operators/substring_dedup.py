"""Exact duplicated-substring span detection and removal.

The ExactSubstr recipe of Lee et al. 2021 ("Deduplicating Training
Data Makes Language Models Better" — arXiv:2107.06499): find every
maximal token span whose content also occurs elsewhere in the corpus
(length ≥ L tokens), and optionally CUT those spans out of the text,
keeping the unique remainder. The paper builds a single-node suffix
array; the Spark-first equivalent for a fixed length threshold is the
L-gram cover: a duplicated span of length M ≥ L is exactly a run of
M−L+1 consecutive L-gram starts that are each corpus-duplicated, so

1. explode every document into its L-token shingles with start
   positions (1-based), hash each shingle (full md5 hex — 128-bit, so
   hash collisions cannot forge duplicates at corpus scale),
2. one gram-hash count shuffle finds the duplicated shingles
   (≥ 2 occurrences, within- or cross-document, matching the
   paper's self-repetition handling),
3. flagged starts cover token interval [start, start+L−1]; a
   gaps-and-islands window per document merges overlapping/adjacent
   intervals into MAXIMAL spans,
4. the cut pass aggregates each document's covered positions into one
   array (duplicate-volume-sized metadata, not corpus-sized), joins it
   back by doc id, and rebuilds the kept text with an indexed
   ``filter`` + ``array_join`` — a pure expression, so the corpus
   itself never re-shuffles.

Scale shape (the 100 TB question): one O(tokens) shingle-hash shuffle
(the same cost class as every n-gram operator here), one
duplicate-bounded island window keyed by doc, one duplicate-bounded
covered-array aggregate, one doc-keyed join. No suffix array, no
driver-side state; the only data-sized shuffle is the shingle count.
Positions are 1-based on both engines (DuckDB's lambda index is
1-based; Spark's 0-based index is shifted to match).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from pinterest_data_pipeline_spark.operators.chunking import ws_tokens


def _toks(text_col: str) -> F.Column:
    return ws_tokens(text_col)


def lgram_starts(
    df: DataFrame,
    L: int = 8,
) -> DataFrame:
    """(id, start, gh): every L-token shingle's 1-based start position
    and md5 hex of its space-joined content. Documents shorter than L
    tokens contribute nothing.

    The token array is materialized behind an exchange BEFORE the
    shingle explode (the minhash_banded recipe): chained directly onto
    the scan, projection collapse inlines the whitespace split into
    every ``slice(toks, i, L)`` lambda reference, re-tokenizing each
    document once PER SHINGLE (~tokens× redundant regex work), and a
    single-row-group input runs the whole explode as ONE task.
    ``fan_out`` parallelizes degenerate layouts; the ``repartition`` on
    the id pins the tokenized form as the exchange's materialized
    output, so the explode slices a stored array. The exchange ships
    O(corpus tokens) — the same byte class the gram shuffle downstream
    already pays — and buys back a tokens-fold of per-shingle CPU."""
    from pinterest_data_pipeline_spark.operators.parallel import fan_out

    toks = _toks("text")
    toked = (
        fan_out(df)
        .filter(F.size(toks) >= L)
        .select(F.col("doc_id"), toks.alias("__t"))
        .repartition(F.col("doc_id"))
    )
    shingles = F.transform(
        F.sequence(F.lit(1), F.size("__t") - F.lit(L - 1)),
        lambda i: F.struct(
            i.alias("start"),
            F.md5(F.array_join(F.slice("__t", i, L), " ")).alias("gh"),
        ),
    )
    return toked.select(F.col("doc_id"), F.explode(shingles).alias("__s")).select(
        "doc_id", F.col("__s.start").alias("start"), F.col("__s.gh").alias("gh")
    )


def duplicated_starts(df: DataFrame, L: int = 8) -> DataFrame:
    """(id, start) shingle starts whose content occurs at least twice
    corpus-wide (within- or cross-document).

    Deliberately a partial-aggregated groupBy + join rather than a
    ``count() OVER (PARTITION BY gh)`` window: a boilerplate shingle
    with millions of occurrences would funnel them all into one window
    partition with no map-side combine and no AQE skew splitting,
    whereas the groupBy absorbs hot grams in partial aggregation and
    the join's probe side is AQE-skew-splittable (its build side holds
    ONE row per duplicated distinct gram)."""
    grams = lgram_starts(df, L)
    dup = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
        .select("gh")
    )
    return grams.join(dup, "gh").select("doc_id", "start")


def cross_group_duplicated_starts(
    df: DataFrame,
    group_col: str,
    L: int = 8,
) -> DataFrame:
    """(id, start) shingle starts whose content appears in at least two
    DISTINCT groups (e.g. sources, or train/eval
    splits) — the leakage-oriented variant of
    :func:`duplicated_starts`: repetition WITHIN one group does not
    flag, content crossing a group boundary does.

    Same skew discipline: distinct-group counting is a
    partial-aggregated two-level groupBy (gh × group first, then gh),
    and the join back is AQE-splittable."""
    grams = lgram_starts(df, L).join(
        df.select("doc_id", group_col), "doc_id"
    )
    dup = (
        grams.select("gh", group_col)
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__g"))
        .filter(F.col("__g") >= 2)
        .select("gh")
    )
    return grams.join(dup, "gh").select("doc_id", "start")


def _merge_spans(flagged: DataFrame, L: int, id_col: str) -> DataFrame:
    """Gaps-and-islands merge of covered intervals [start, start+L-1]
    into maximal spans: (id, span_start, span_end, span_tokens),
    1-based inclusive. A new island starts where the start position
    exceeds the running max covered end + 1 (so overlapping AND
    exactly-adjacent intervals merge)."""
    w = Window.partitionBy(id_col).orderBy("start")
    prev = Window.partitionBy(id_col).orderBy("start").rowsBetween(
        Window.unboundedPreceding, -1
    )
    with_isl = (
        flagged.withColumn("end", F.col("start") + F.lit(L - 1))
        .withColumn("__pmax", F.max("end").over(prev))
        .withColumn(
            "__new",
            F.when(
                F.col("__pmax").isNull()
                | (F.col("start") > F.col("__pmax") + 1),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("__isl", F.sum("__new").over(w))
    )
    return (
        with_isl.groupBy(id_col, "__isl")
        .agg(
            F.min("start").cast("bigint").alias("span_start"),
            F.max("end").cast("bigint").alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
        )
    )


def duplicate_spans(df: DataFrame, L: int = 8) -> DataFrame:
    """Maximal duplicated token spans per document (see
    :func:`_merge_spans` for the island semantics)."""
    return _merge_spans(duplicated_starts(df, L), L, "doc_id")


def cross_group_leakage_spans(
    df: DataFrame,
    group_col: str,
    L: int = 8,
) -> DataFrame:
    """Maximal spans of content that crosses a group boundary
    (≥ 2 distinct groups contain the shingle) — the
    span-grain leakage report: which exact passages of which
    documents leak across sources or train/eval splits."""
    return _merge_spans(
        cross_group_duplicated_starts(df, group_col, L),
        L,
        "doc_id",
    )


def cut_duplicate_spans(df: DataFrame, L: int = 8) -> DataFrame:
    """Remove every duplicated span, keep the unique remainder:
    (id, n_tokens, n_kept, kept_text) for EVERY document (untouched
    documents pass through with full text; fully-duplicated documents
    keep an empty string — the caller's drop policy, not ours).

    The covered positions are aggregated into one per-document array
    (duplicate-volume-sized) and joined back by id; the rebuild is an
    indexed filter + array_join expression, so the corpus scan never
    re-shuffles."""
    flagged = duplicated_starts(df, L)
    covered = (
        flagged.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(L - 1))
            ).alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("__cov"))
    )
    toks = _toks("text")
    return (
        df.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.size(toks).cast("bigint").alias("n_tokens"),
            F.when(F.col("__cov").isNull(), toks)
            .otherwise(
                F.filter(
                    toks,
                    lambda x, i: ~F.array_contains(F.col("__cov"), i + 1),
                )
            )
            .alias("__kept"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.size("__kept").cast("bigint").alias("n_kept"),
            F.array_join("__kept", " ").alias("kept_text"),
        )
    )
