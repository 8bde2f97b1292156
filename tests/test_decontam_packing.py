"""Behavior tests for decontamination, sequence packing, and hash split."""

from __future__ import annotations

from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators.chunking import pack_sequences
from pinterest_data_pipeline_spark.operators.decontam import (
    ngram_contamination,
    word_ngrams,
)
from pinterest_data_pipeline_spark.operators.sampling import hash_split


def test_word_ngrams_edges(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b"), (3, ""), (4, "  x   y  z ")],
        "id long, text string",
    )
    got = {
        r["id"]: r["g"]
        for r in df.select("id", word_ngrams("text", 3).alias("g")).collect()
    }
    assert got[1] == ["a b c", "b c d", "c d e"]
    assert got[2] == []
    assert got[3] == []
    assert got[4] == ["x y z"]


def test_contamination_flags_planted_leak(spark):
    leak = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [
            (0, f"benchmark question: {leak}"),  # eval
            (1, f"training doc that copied {leak} verbatim"),
            (2, "completely unrelated words with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    flagged = ngram_contamination(df, F.col("doc_id") == 0).collect()
    by_id = {r["doc_id"]: r["n_shared"] for r in flagged}
    assert 1 in by_id and by_id[1] >= 5  # the 9-word leak shares many 4-grams
    assert 2 not in by_id


def test_pack_sequences_bins_are_contiguous_and_conserve_tokens(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    budget = 2048
    bins = pack_sequences(docs, budget=budget).collect()
    total_packed = sum(r["total_tokens"] for r in bins)
    total_corpus = docs.select(
        F.sum(
            F.size(F.filter(F.split("text", r"\s+"), lambda t: t != ""))
        ).alias("n")
    ).collect()[0]["n"]
    assert total_packed == total_corpus  # every token lands in exactly one bin

    by_lang: dict[str, dict[int, int]] = {}
    for r in bins:
        by_lang.setdefault(r["lang"], {})[r["bin_id"]] = r["total_tokens"]
    for lang, b in by_lang.items():
        ids = sorted(b)
        assert ids == list(range(len(ids))), f"{lang}: bins not contiguous"
        # cumulative tokens through bin k equal the stream prefix at the
        # first doc of bin k+1, which by construction is >= (k+1)*budget
        cum = 0
        for k in ids[:-1]:
            cum += b[k]
            assert cum >= (k + 1) * budget, f"{lang}: bin {k} underfilled"


def test_hash_split_deterministic_and_balanced(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    a = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id").collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id").collect()}
    assert a == b  # content-addressed: identical across runs
    n = len(a)
    frac_test = sum(v == "test" for v in a.values()) / n
    frac_val = sum(v == "val" for v in a.values()) / n
    # expected ~13/256 each; binomial slack at n=500
    assert 0.01 < frac_test < 0.12
    assert 0.01 < frac_val < 0.12
    assert set(a.values()) <= {"train", "val", "test"}
