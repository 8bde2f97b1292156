"""Document chunking for training-data pipelines: fixed token-window
chunks with overlap — the step between a curated corpus and a tokenizer.

Scale design: chunking is a pure per-row expression pipeline (split →
sequence of window starts → slice per start → explode). No shuffle, no
UDF, whole-stage codegen end to end; output row count is
Σ ceil(doc_tokens / step), which the explode streams without
materializing per-doc chunk arrays in driver memory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def ws_tokens(text: Column | str) -> Column:
    """Whitespace tokens with empties removed — identical semantics to
    DuckDB's list_filter(string_split_regex(...)) so chunk boundaries are
    oracle-checkable cross-engine."""
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Explode each document into overlapping token windows.

    Window starts advance by ``chunk_size - overlap`` tokens; every token
    belongs to at least one chunk and the last window may be short.
    Output: (doc_id, chunk_id, n_tokens, chunk_text), empty documents
    contribute no chunks."""
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    step = chunk_size - overlap
    toks = ws_tokens("text")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(step)
    )
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.alias("chunk_id"),
            F.slice(toks, s + 1, chunk_size).alias("toks"),
        ),
    )
    return (
        df.select(
            F.col("doc_id").alias("doc_id"),
            F.explode(chunks).alias("c"),
        )
        .select(
            "doc_id",
            F.col("c.chunk_id").alias("chunk_id"),
            F.size("c.toks").alias("n_tokens"),
            F.concat_ws(" ", F.col("c.toks")).alias("chunk_text"),
        )
        .filter(F.col("n_tokens") > 0)
    )


def pack_sequences(
    df: DataFrame,
    *,
    budget: int = 2048,
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign each document to a
    fixed-token-budget training bin.

    Documents (``text``) are laid end-to-end in ``doc_id`` order within
    each ``lang`` stream; a document's bin is the budget-window its first
    token falls in (``floor(prefix_tokens / budget)``). This is the
    standard streaming "concatenate then split every *budget* tokens"
    packing — deterministic, one pass, and exactly reproducible in ANSI
    SQL (unlike first-fit-decreasing, whose bin state is sequential).

    Scale: one shuffle on ``lang`` for the running-sum window. A
    skewed stream (one giant language) serializes its window into a
    single task; at 100 TB the fix is a composite stream key — e.g.
    ``(lang, doc_id bucket)`` so each bucket packs independently.

    Output: per (lang, bin_id) — documents assigned and their token
    total. ``total_tokens`` may overshoot ``budget`` by up to one
    document (the straddler keeps its starting bin)."""
    n_tok = F.size(ws_tokens("text")).cast("long").alias("n_tok")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(F.sum("n_tok").over(w), F.lit(0).cast("long"))
    return (
        df.select("lang", "doc_id", n_tok)
        .withColumn("bin_id", F.floor(prev / F.lit(budget)))
        .groupBy("lang", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
        )
    )


def cdc_chunks(
    df: DataFrame,
    window: int = 4,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Content-defined chunking (the rsync/CDC primitive): split each
    document at positions where a polynomial rolling hash of the last
    ``window`` tokens lands in a 1/16 target band, instead of at
    fixed offsets. Fixed-width passages (see chunk_documents) break on
    INSERTION — one added token shifts every later boundary, so a
    near-identical document shares no passage hashes; CDC boundaries are
    functions of local content only, so unmodified regions re-chunk
    identically and dedup across document versions keeps working.

    Emits one row per chunk: (id, chunk_idx, chunk_hash, chunk_tokens).
    The whole pipeline is one codegen expression chain over the token
    array (token hash → boundary filter → span zip → per-span slice+md5
    inside a transform) followed by a single posexplode — no shuffle, no
    UDF, no join; nothing but the final chunk rows leaves the projection.
    The token hash is the portable md5 prefix so a SQL oracle reproduces
    the identical chunking (DuckDB twin: cdc_chunk_dedup_report).

    Expected chunk length is 16 tokens (geometric); ``window``
    controls boundary context. At 100 TB this is a pure map stage —
    cost linear in tokens, output Σ n_tokens/16 rows."""
    from pinterest_data_pipeline_spark.operators.dedup import portable_hash32

    if window < 1:
        raise ValueError(f"cdc_chunks window must be >= 1, got {window}")
    # polynomial taps 31^j for the last `window` token hashes, reduced
    # mod the 2^20 hash ring up front: keeps every addend < 2^52 so the
    # sum can't overflow LONG under ANSI mode at any window size, and
    # (a*b) % m == ((a%m)*b) % m keeps the boundary decision identical
    coeffs = [pow(31, j, 1048576) for j in range(window)]
    toks = F.split(F.trim(F.col("text")), r"\s+")

    t, th = F.col("__t"), F.col("__th")
    n = F.size(t)

    def rolling_ok(i: Column) -> Column:
        terms = [
            F.lit(c) * F.element_at(th, i - j) for j, c in enumerate(coeffs)
        ]
        total = terms[0]
        for term in terms[1:]:
            total = total + term
        return ((total % F.lit(1048576)) % F.lit(16)) == 0

    # boundary END positions (1-based, inclusive); docs shorter than the
    # window yield no boundaries (guard: Spark's sequence(a, b) runs
    # BACKWARDS when a > b rather than returning empty)
    bnd = F.when(
        n >= window, F.filter(F.sequence(F.lit(window), n), rolling_ok)
    ).otherwise(F.array().cast("array<int>"))
    b = F.col("__bnd")
    ends = F.when(
        (F.size(b) > 0) & (F.element_at(b, -1) == n), b
    ).otherwise(F.concat(b, F.array(n)))
    e_ = F.col("__ends")
    starts = F.concat(
        F.array(F.lit(1)),
        F.transform(F.slice(e_, 1, F.size(e_) - 1), lambda x: x + 1),
    )
    chunks = F.transform(
        F.arrays_zip(F.col("__starts").alias("s"), e_.alias("e")),
        lambda sp: F.struct(
            F.md5(
                F.array_join(
                    F.slice(t, sp["s"], sp["e"] - sp["s"] + 1), " "
                )
            ).alias("chunk_hash"),
            (sp["e"] - sp["s"] + 1).alias("chunk_tokens"),
        ),
    )
    from pinterest_data_pipeline_spark.operators.parallel import fan_out

    # fan_out: per-token md5 + rolling-hash filters are expensive per-row
    # expressions; a one-row-group input would otherwise run them in a
    # single task (same hazard as every other heavy text projection)
    return (
        fan_out(df).select(
            "doc_id",
            *extra_cols,
            toks.alias("__t"),
            F.transform(toks, lambda x: portable_hash32(x)).alias("__th"),
        )
        .withColumn("__bnd", bnd)
        .withColumn("__ends", ends)
        .withColumn("__starts", starts)
        .select(
            "doc_id", *extra_cols, F.posexplode(chunks).alias("chunk_idx", "__c")
        )
        .select(
            "doc_id",
            *extra_cols,
            "chunk_idx",
            F.col("__c.chunk_hash").alias("chunk_hash"),
            F.col("__c.chunk_tokens").alias("chunk_tokens"),
        )
    )
