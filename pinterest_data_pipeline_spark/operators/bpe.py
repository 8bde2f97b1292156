"""Distributed BPE tokenizer training and application.

Byte-pair-encoding merge learning (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units" —
arXiv:1508.07909), Spark-first. The staged ``bpe_pair_stats`` query
ranks the FIRST merge; this module runs the full training loop and
applies the learned tokenizer back to the corpus.

The representation trick that makes every step exact, engine-portable
and ORACLE-REPLAYABLE: a word's piece sequence is stored as a single
string with every piece wrapped in ``\\x1f`` unit separators —
``"abc"`` → ``"\\x1fa\\x1f\\x1fb\\x1f\\x1fc\\x1f"``. Merging the pair
``(l, r)`` is then one literal, non-overlapping, left-to-right
``replace(repr, SEP+l+SEP+SEP+r+SEP, SEP+l+r+SEP)`` — which IS the
greedy BPE merge semantics (``a a a`` + merge ``(a,a)`` → ``aa a``),
and Spark's ``F.replace`` and DuckDB's ``replace`` agree on it
byte-for-byte (prototype-verified on the overlap case).

Scale shape (the 100 TB question):
- the corpus is touched ONCE — ``word_frequencies`` is the only
  token-sized shuffle; everything after runs on the (word, cnt) vocab
  relation, which is Zipf-bounded (≈10⁷–10⁸ distinct words for
  natural-language corpora of any size, vs 10¹¹+ tokens);
- each of the k iterations is: one pieces-explode over the vocab (O(
  vocab × word_len)), one pair-keyed partial+final agg, one
  TakeOrdered(1) argmax, one 1-row driver collect (metadata-sized by
  construction — the k-means-codebook precedent), one column rewrite;
- ``localCheckpoint`` after every rewrite keeps the lineage flat (the
  duplicate_clusters precedent), so plan size is constant in k;
- encoding joins tokens to the final vocab: broadcast when the vocab
  fits (default here), hash-join on the word key as the scale
  fallback — either way the corpus shuffles at most once more for the
  per-document aggregate.

Tiebreaks are total (pair_count desc, left asc, right asc) and the
pieces are ASCII in the test corpus, so Spark's UTF-16 and DuckDB's
UTF-8 string orders agree; tokens containing the ``\\x1f`` sentinel
itself are excluded up front on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pinterest_data_pipeline_spark.operators.chunking import ws_tokens

#: Piece separator — every piece is wrapped as SEP+piece+SEP.
SEP = "\x1f"

#: Merge-table schema (createDataFrame target; stable when empty).
MERGES_SCHEMA = (
    "merge_rank int, left_piece string, right_piece string,"
    " pair_count bigint"
)


def word_frequencies(df: DataFrame) -> DataFrame:
    """(word, cnt) over whitespace tokens — the one corpus-sized
    shuffle in the whole trainer. Tokens containing the ``\\x1f``
    piece separator are dropped (oracle mirrors the guard)."""
    return (
        df.select(F.explode(ws_tokens("text")).alias("word"))
        .filter(~F.col("word").contains(SEP))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def wrap_chars(word: F.Column | str) -> F.Column:
    """Initial piece string: every character wrapped in separators."""
    col = F.col(word) if isinstance(word, str) else word
    return F.regexp_replace(col, "(.)", SEP + "$1" + SEP)


def split_pieces(repr_col: F.Column | str) -> F.Column:
    """Piece array from the wrapped representation (strip the outer
    separators, split on the doubled one)."""
    col = F.col(repr_col) if isinstance(repr_col, str) else repr_col
    return F.split(
        F.substring(col, 2, F.length(col) - 2), SEP + SEP
    )


def pair_counts(vocab: DataFrame) -> DataFrame:
    """(l, r, pair_count) adjacent-piece counts over the vocab,
    weighted by word frequency. Overlapping occurrences within a word
    all count (Sennrich's get_stats), e.g. pieces ``[a,a,a]``
    contribute the pair (a,a) twice."""
    return (
        vocab.withColumn("__p", split_pieces("repr"))
        .select(
            "cnt",
            F.explode(
                F.expr(
                    "zip_with(slice(__p, 1, size(__p)-1),"
                    " slice(__p, 2, size(__p)-1),"
                    " (l, r) -> struct(l, r))"
                )
            ).alias("__z"),
        )
        .groupBy(
            F.col("__z.l").alias("left_piece"),
            F.col("__z.r").alias("right_piece"),
        )
        .agg(F.sum("cnt").cast("bigint").alias("pair_count"))
    )


def merge_expr(repr_col: F.Column, left: str, right: str) -> F.Column:
    """Greedy left-to-right non-overlapping merge of one pair — a
    literal replace on the wrapped representation."""
    return F.replace(
        repr_col,
        F.lit(SEP + left + SEP + SEP + right + SEP),
        F.lit(SEP + left + right + SEP),
    )


def learn_bpe(
    df: DataFrame,
    k: int = 6,
    checkpoint: bool = True,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Learn ``k`` BPE merges; returns (merge list, final vocab).

    Each iteration collects exactly ONE row (the argmax pair — by
    pair_count desc then lexicographic pair asc, a total order), then
    rewrites the vocab's piece strings with :func:`merge_expr`. Stops
    early if no pair remains (every word a single piece). The final
    vocab carries (word, cnt, repr) with ``repr`` the word's piece
    sequence under the learned tokenizer — applying BPE to the corpus
    is then just a join, no per-token merge replay."""
    vocab = word_frequencies(df).withColumn(
        "repr", wrap_chars("word")
    )
    if checkpoint:
        # eager=False: the next argmax collect materializes the vocab in
        # the same job — no separate count job per checkpoint
        vocab = vocab.localCheckpoint(eager=False)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, k + 1):
        best = (
            pair_counts(vocab)
            .orderBy(
                F.desc("pair_count"),
                F.asc("left_piece"),
                F.asc("right_piece"),
            )
            .limit(1)
            .collect()
        )
        if not best:
            break
        b = best[0]
        merges.append(
            (rank, b["left_piece"], b["right_piece"], b["pair_count"])
        )
        vocab = vocab.withColumn(
            "repr",
            merge_expr(F.col("repr"), b["left_piece"], b["right_piece"]),
        )
        if checkpoint:
            vocab = vocab.localCheckpoint(eager=False)
    return merges, vocab


def bpe_merge_table(spark: SparkSession, df: DataFrame, k: int = 6) -> DataFrame:
    """The learned merge table as a DataFrame:
    (merge_rank, left_piece, right_piece, pair_count)."""
    merges, _ = learn_bpe(df, k)
    return spark.createDataFrame(merges, MERGES_SCHEMA)


def bpe_encode_stats(
    df: DataFrame,
    k: int = 6,
) -> DataFrame:
    """Per-document tokenization stats under the learned tokenizer:
    (id, n_tokens, n_pieces, n_chars, chars_per_piece). The corpus is
    re-tokenized by JOINING to the trained vocab (word → piece count)
    rather than replaying merges per token — a broadcast join, so the
    vocab must fit the broadcast range."""
    _, vocab = learn_bpe(df, k)
    per_word = vocab.select(
        "word",
        F.size(split_pieces("repr")).alias("__np"),
        F.length("word").alias("__nc"),
    )
    per_word = F.broadcast(per_word)
    toks = df.select(
        "doc_id", F.explode(ws_tokens("text")).alias("word")
    ).filter(~F.col("word").contains(SEP))
    return (
        toks.join(per_word, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("__np").cast("bigint").alias("n_pieces"),
            F.sum("__nc").cast("bigint").alias("n_chars"),
            F.round(
                F.sum("__nc").cast("double")
                / F.sum("__np").cast("double"),
                6,
            ).alias("chars_per_piece"),
        )
    )


def bpe_fertility(
    df: DataFrame,
    k: int = 6,
) -> DataFrame:
    """Tokenizer-equity audit: per-group (typically per-language)
    fertility of the learned tokenizer — pieces per word and chars per
    piece. A tokenizer trained on a skewed mixture splits the
    under-represented languages into more pieces; this report is the
    standard way to see it. Same join-the-vocab shape as
    :func:`bpe_encode_stats`, aggregated by group instead of
    document."""
    _, vocab = learn_bpe(df, k)
    per_word = vocab.select(
        "word",
        F.size(split_pieces("repr")).alias("__np"),
        F.length("word").alias("__nc"),
    )
    per_word = F.broadcast(per_word)
    toks = df.select(
        "lang", F.explode(ws_tokens("text")).alias("word")
    ).filter(~F.col("word").contains(SEP))
    return (
        toks.join(per_word, "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("__np").cast("bigint").alias("n_pieces"),
            F.round(
                F.sum("__np").cast("double") / F.count(F.lit(1)),
                6,
            ).alias("pieces_per_token"),
            F.round(
                F.sum("__nc").cast("double")
                / F.sum("__np").cast("double"),
                6,
            ).alias("chars_per_piece"),
        )
    )
