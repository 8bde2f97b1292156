"""Behavioral tests for the chunking + deterministic-sampling operators:
window arithmetic (coverage, overlap), exact stratum counts, and
weight-driven replication."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators.chunking import chunk_documents
from pinterest_data_pipeline_spark.operators.sampling import (
    repeat_by_weight,
    stratified_sample_exact,
)


def test_chunks_cover_all_tokens_with_overlap(spark):
    """157 tokens, size 10 / overlap 3 (step 7): starts 0,7,...,154;
    consecutive chunks share exactly `overlap` tokens and the union of
    chunks reproduces the document."""
    words = [f"w{i}" for i in range(157)]
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    out = (
        chunk_documents(df, chunk_size=10, overlap=3)
        .orderBy("chunk_id")
        .collect()
    )
    assert [r["chunk_id"] for r in out] == list(range(len(out)))
    seen = []
    prev = None
    for r in out:
        toks = r["chunk_text"].split(" ")
        assert r["n_tokens"] == len(toks) <= 10
        if prev is not None:
            assert prev[-3:] == toks[:3]  # exact overlap
        seen.extend(toks[3:] if prev is not None else toks)
        prev = toks
    assert seen == words  # full coverage, order preserved


def test_chunking_edge_cases(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one"), (4, "a b")],
        "doc_id long, text string",
    )
    rows = chunk_documents(df, chunk_size=10, overlap=3).collect()
    got = {(r["doc_id"], r["n_tokens"], r["chunk_text"]) for r in rows}
    # empty/whitespace docs contribute nothing; short docs one chunk
    assert got == {(3, 1, "one"), (4, 2, "a b")}
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_size=5, overlap=5)


def test_stratified_sample_exact_counts_and_determinism(spark):
    df = spark.createDataFrame(
        [(i, "big" if i < 100 else "small") for i in range(110)],
        "doc_id long, lang string",
    )
    out = stratified_sample_exact(df, "lang", "doc_id", 25)
    counts = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"big": 25, "small": 10}  # min(k, stratum size)
    a = sorted(tuple(r) for r in out.collect())
    b = sorted(tuple(r) for r in stratified_sample_exact(df, "lang", "doc_id", 25).collect())
    assert a == b  # md5 order: same sample every run


def test_repeat_by_weight_counts(spark):
    df = spark.createDataFrame(
        [(1, "en"), (2, "zh"), (3, "de"), (4, "xx")],
        "doc_id long, lang string",
    )
    out = repeat_by_weight(df, "lang", {"zh": 3, "de": 0})
    got = sorted((r["doc_id"], r["copy_id"]) for r in out.collect())
    assert got == [(1, 1), (2, 1), (2, 2), (2, 3), (4, 1)]  # de dropped


def test_udtf_split_sentences_edges(spark):
    """UDTF edge semantics: NULL text yields no rows, empty/whitespace
    sentences are dropped, ids are dense per document."""
    from pinterest_data_pipeline_spark.operators.udtf_ops import SplitSentences

    spark.udtf.register("split_sentences_t", SplitSentences)
    df = spark.createDataFrame(
        [
            (1, "One. Two sentences!  And... a third?"),
            (2, None),
            (3, "..."),
            (4, "no terminator"),
        ],
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("__udtf_edge")
    rows = spark.sql(
        "SELECT d.doc_id, s.* FROM __udtf_edge d, "
        "LATERAL split_sentences_t(d.text) s"
    ).collect()
    got = {(r["doc_id"], r["sentence_id"], r["sentence"], r["n_tokens"]) for r in rows}
    assert got == {
        (1, 0, "One", 1),
        (1, 1, "Two sentences", 2),
        (1, 2, "And", 1),
        (1, 3, "a third", 2),
        (4, 0, "no terminator", 2),
    }


def test_pii_redaction(spark):
    from pinterest_data_pipeline_spark.operators import text as T

    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.co.uk or call +1 (555) 123-4567."),
            (2, "no pii here"),
            (3, "two mails: a@b.io c@d.org and 0801 234 5678"),
        ],
        "doc_id long, text string",
    )
    n_e, n_p = T.pii_counts("text")
    out = {
        r["doc_id"]: (r["e"], r["p"], r["red"])
        for r in df.select(
            "doc_id",
            n_e.alias("e"),
            n_p.alias("p"),
            T.redact_pii("text").alias("red"),
        ).collect()
    }
    assert out[1][0] == 1 and out[1][1] == 1
    assert "[EMAIL]" in out[1][2] and "[PHONE]" in out[1][2]
    assert "jane" not in out[1][2] and "555" not in out[1][2]
    assert out[2] == (0, 0, "no pii here")
    assert out[3][0] == 2 and out[3][1] == 1


def test_extended_curation_composition(spark, sf_dir):
    """End-to-end composition of the round-2 curation stages on top of
    the benchmark funnel: quality gate, repetition gate (short-circuited
    under it), PII-redacted fingerprints, exact dedup, and chunking of
    the survivors. Pins that the stages compose monotonically and that
    redaction happens before fingerprinting."""
    from pinterest_data_pipeline_spark.operators import text as T
    from pinterest_data_pipeline_spark.operators.chunking import chunk_documents
    from pinterest_data_pipeline_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    quality = T.quality_score("text")
    scored = docs.select(
        "doc_id",
        T.redact_pii("text").alias("text"),
        quality.alias("quality"),
        F.when(quality >= 0.5, T.dup_trigram_frac("text") <= 0.5)
        .otherwise(F.lit(False))
        .alias("keep"),
    )
    n_total = scored.count()
    kept = scored.filter("keep")
    n_kept = kept.count()
    survivors = (
        kept.groupBy(T.fingerprint_md5(F.col("text")).alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    n_exact = survivors.count()
    chunks = chunk_documents(kept.join(survivors, "doc_id", "semi"))
    n_chunks = chunks.count()
    assert n_total >= n_kept >= n_exact > 0
    assert n_chunks >= n_exact  # every surviving doc yields >= 1 chunk
    # redaction-before-fingerprint: two docs differing only in PII collapse
    pii_docs = spark.createDataFrame(
        [(1, "contact a@b.io for details"), (2, "contact c@d.org for details")],
        "doc_id long, text string",
    )
    fps = (
        pii_docs.select(T.fingerprint_md5(T.redact_pii("text")).alias("fp"))
        .distinct()
        .count()
    )
    assert fps == 1


def test_cdc_chunks_insertion_robust(spark):
    """The property that motivates CDC over fixed passages: inserting one
    token at the FRONT of a document shifts every fixed-offset passage
    (so none of their hashes survive) but leaves most content-defined
    chunks identical — only chunks overlapping the edit change."""
    from pinterest_data_pipeline_spark.operators.chunking import cdc_chunks

    base = " ".join(f"tok{i % 97}x{i % 13}" for i in range(400))
    edited = "INSERTED " + base
    docs = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    )
    ch = cdc_chunks(docs).collect()
    h1 = {r["chunk_hash"] for r in ch if r["doc_id"] == 1}
    h2 = {r["chunk_hash"] for r in ch if r["doc_id"] == 2}
    shared = len(h1 & h2) / max(len(h1), 1)
    assert shared >= 0.5, f"CDC shared only {shared:.2%} of chunks"
    # chunk accounting: tokens partition exactly, every chunk non-empty
    for doc_id, n_tokens in ((1, 400), (2, 401)):
        rows = [r for r in ch if r["doc_id"] == doc_id]
        assert sum(r["chunk_tokens"] for r in rows) == n_tokens
        assert all(r["chunk_tokens"] >= 1 for r in rows)


def test_cdc_chunks_short_doc_single_chunk(spark):
    from pinterest_data_pipeline_spark.operators.chunking import cdc_chunks

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "only"), (3, "x y z w v u t s")],
        "doc_id long, text string",
    )
    rows = cdc_chunks(docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert sum(r["chunk_tokens"] for r in by_doc[1]) == 2
    assert sum(r["chunk_tokens"] for r in by_doc[2]) == 1
    assert sum(r["chunk_tokens"] for r in by_doc[3]) == 8


def test_cdc_chunks_window_parameter_honored(spark):
    """Round-4 advisor regression: the rolling hash hardcoded 4 taps, so
    window<4 crashed (element_at index <= 0) and window>4 silently hashed
    only the last 4 tokens. The taps now derive from `window`: every
    window size runs, partitions tokens exactly, and — because the hash
    context differs — at least one window size must chunk differently
    from another on content-varying text. window=4 keeps byte-identical
    behavior (coefficients 1, 31, 961, 29791 mod 2^20), pinned by the
    DuckDB twin cdc_chunk_dedup_report."""
    import pytest

    from pinterest_data_pipeline_spark.operators.chunking import cdc_chunks

    text = " ".join(f"tok{(i * 17) % 89}y{i % 7}" for i in range(300))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    boundaries = {}
    for window in (1, 2, 4, 7):
        rows = cdc_chunks(docs, window=window).collect()
        assert sum(r["chunk_tokens"] for r in rows) == 300, window
        assert all(r["chunk_tokens"] >= 1 for r in rows), window
        boundaries[window] = tuple(
            r["chunk_tokens"] for r in sorted(rows, key=lambda r: r["chunk_idx"])
        )
    assert len(set(boundaries.values())) > 1, (
        "different window sizes must produce different chunkings on "
        f"content-varying text: {boundaries}"
    )
    with pytest.raises(ValueError):
        cdc_chunks(docs, window=0)


def test_cdc_chunks_partition_invariant(spark):
    """CDC chunking must be a pure function of each row — identical
    output under any partitioning/row order (hash determinism is what
    lets incremental runs re-chunk history-free)."""
    from pinterest_data_pipeline_spark.operators.chunking import cdc_chunks

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 31 + j) % 101}" for j in range(120)))
         for i in range(40)],
        "doc_id long, text string",
    )
    key = lambda r: (r["doc_id"], r["chunk_idx"], r["chunk_hash"], r["chunk_tokens"])  # noqa: E731
    one = sorted(map(key, cdc_chunks(docs.repartition(1)).collect()))
    many = sorted(map(key, cdc_chunks(docs.repartition(7)).collect()))
    assert one == many


def test_weighted_sample_biases_toward_quality(spark, sf_dir):
    """weighted_sample_per_source must actually BIAS: the sampled docs'
    mean quality exceeds the corpus mean (integer priority division by
    the weight makes high-quality docs draw lower priorities), while the
    same md5 priority WITHOUT weighting has no such pull."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from pinterest_data_pipeline_spark.operators import text
    from pinterest_data_pipeline_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", text.quality_score("text").alias("q")
    )
    corpus_mean = docs.agg(F.avg("q")).first()[0]
    sample = entry_mod.queries()["weighted_sample_per_source"](
        spark, sf_dir
    )
    sampled_mean = (
        sample.join(docs, "doc_id").agg(F.avg("q")).first()[0]
    )
    assert sampled_mean > corpus_mean, (sampled_mean, corpus_mean)
