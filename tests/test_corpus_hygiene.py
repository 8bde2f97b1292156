"""Behavior tests for quality rules, boilerplate detection, fuzzy
decontamination, and the deterministic shuffle."""

from __future__ import annotations

from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators.boilerplate import (
    boilerplate_fraction,
    corpus_frequent_ngrams,
)
from pinterest_data_pipeline_spark.operators.decontam import (
    jaccard_contamination,
)
from pinterest_data_pipeline_spark.operators.quality_rules import (
    gopher_quality_flags,
)
from pinterest_data_pipeline_spark.operators.sampling import (
    deterministic_shuffle,
)
from pinterest_data_pipeline_spark.sources.parquet import load_table


def test_gopher_flags_rule_boundaries(spark):
    long_good = "the quick brown fox " * 15  # 60 words, stopword 'the'
    df = spark.createDataFrame(
        [
            (1, long_good + "and more"),        # passes everything
            (2, "too short with the and"),      # fails word count
            (3, ("xx " * 60).strip()),          # no stopwords
            (4, ""),                            # no tokens: excluded
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in gopher_quality_flags(df).collect()}
    assert 4 not in rows
    assert rows[1]["passes_rules"] == 1
    assert rows[2]["passes_rules"] == 0 and rows[2]["n_words"] < 50
    assert rows[3]["passes_rules"] == 0 and rows[3]["n_stop_present"] == 0
    assert rows[1]["n_stop_present"] >= 2  # 'the' and 'and'
    assert abs(rows[3]["mean_word_len"] - 2.0) < 1e-9


def test_boilerplate_planted_template(spark):
    template = "click here to subscribe"
    rows = [(i, f"{template} unique{i} words{i} body{i}") for i in range(40)]
    rows.append((99, "entirely fresh content nothing shared"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    freq = {
        r["ng"]: r["doc_freq"]
        for r in corpus_frequent_ngrams(df, min_doc_frac=0.5).collect()
    }
    assert freq.get("click here") == 40
    assert "entirely fresh" not in freq
    frac = {
        r["doc_id"]: r["boilerplate_frac"]
        for r in boilerplate_fraction(df, min_doc_frac=0.5).collect()
    }
    # 6 bigrams per templated doc, 3 in the shared template ('click
    # here', 'here to', 'to subscribe'); the rest touch uniqueN words.
    assert abs(frac[0] - 0.5) < 1e-9
    assert frac[99] == 0.0


def test_jaccard_contamination_scores_clone_near_one(spark):
    eval_text = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [
            (0, eval_text),                          # eval (id % 20 == 0)
            (1, eval_text),                          # exact clone: j = 1.0
            (2, eval_text + " iota"),                # superset: high j
            (3, "totally different words here now"), # no overlap
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in jaccard_contamination(df, F.col("doc_id") % 20 == 0).collect()
    }
    assert got[1]["max_jaccard"] == 1.0
    assert 0.7 < got[2]["max_jaccard"] < 1.0
    assert 3 not in got
    assert got[1]["n_eval_overlaps"] == 1


def test_deterministic_shuffle_layout(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = deterministic_shuffle(docs.select("doc_id"), n_shards=16)
    rows = out.collect()
    assert len(rows) == docs.count()
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        assert 0 <= r["shard"] < 16
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    # positions are a contiguous 1..n ranking inside each shard
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # md5 uniformity: no shard is empty or dominant at n=500
    sizes = [len(v) for v in by_shard.values()]
    assert len(by_shard) == 16 and max(sizes) < 4 * min(sizes)
    # content-addressed: identical across recomputation
    again = {r["doc_id"]: (r["shard"], r["pos"]) for r in out.collect()}
    first = {r["doc_id"]: (r["shard"], r["pos"]) for r in rows}
    assert first == again


def test_raw_bitmap_decode_matches_numpy_recompute(spark, sf_dir):
    """The raw-bitmap decode path is REAL math, not a stub: Spark's
    output must equal a driver-side numpy recompute from the same
    bytes, bit for bit (float64 ops on identical inputs)."""
    import numpy as np

    from pinterest_data_pipeline_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents").limit(40)
    assets = multimodal.attach_binary_payload(docs)
    got = {
        r["asset_id"]: r
        for r in multimodal.decode_raw_bitmap_features(assets).collect()
    }
    raw = {r["asset_id"]: bytes(r["content"]) for r in assets.collect()}
    assert set(got) == set(raw)
    npx = multimodal.RAW_TILE ** 2
    for aid, buf in raw.items():
        buf = buf[:npx] + b"\x00" * max(0, npx - len(buf[:npx]))
        px = np.frombuffer(buf, dtype=np.uint8).astype(np.float64) / 255.0
        assert got[aid]["mean_px"] == px.mean()
        assert got[aid]["std_px"] == px.std()
        img = px.reshape(16, 16)
        thumb = img.reshape(4, 4, 4, 4).mean(axis=(1, 3)).reshape(16)
        assert np.array_equal(np.array(got[aid]["thumb_4x4"]), thumb)
        ints = np.frombuffer(buf, dtype=np.uint8).astype(np.int64)
        assert got[aid]["sum_px"] == int(ints.sum())
        assert got[aid]["sum_sq_px"] == int((ints * ints).sum())
        tsum = ints.reshape(4, 4, 4, 4).sum(axis=(1, 3)).reshape(16)
        assert list(got[aid]["thumb_sums"]) == [int(x) for x in tsum]
