"""Behavior tests for the curation composition queries in
plans/staged_round6.py: budget prefix equivalence, water-filling
invariants, cluster-coherent splits and best-quality keeps are pinned
directly. Their oracle parity against the DuckDB oracles runs below, at
sf0.01.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from pinterest_data_pipeline_spark.plans.registry import QUERIES
from tests.oracle_utils import check_query, module_queries

ROUND_QUERIES = module_queries("staged_round6")


def test_staged_queries_are_promoted():
    """All 23 builders in plans/staged_round6.py are registered: a
    lost @register would drop its query from the driver surface."""
    assert len(ROUND_QUERIES) == 23


def test_every_staged_query_has_an_oracle():
    assert set(ROUND_QUERIES) <= set(entry_mod.oracle_sql())


@pytest.mark.parametrize("sf", ["sf0.01"])
@pytest.mark.parametrize("name", ROUND_QUERIES)
def test_staged_query_matches_oracle(spark, name, sf):
    problems = check_query(spark, name, f"/root/testdata/{sf}", nonempty=True)
    assert not problems, f"{name}@{sf}: {problems}"



# ------------------------------------------------------------ operators


@pytest.fixture(scope="module")
def doc_feats(spark, sf_dir):
    from pinterest_data_pipeline_spark.operators.text import (
        linear_quality_margin,
        token_count,
    )
    from pinterest_data_pipeline_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "source",
        linear_quality_margin("text").alias("margin"),
        token_count("text").alias("n_tokens"),
    ).cache()


@pytest.mark.parametrize("budget", [137, 2000, 20000, 33333])
def test_budget_selection_equals_single_window(spark, doc_feats, budget):
    """The two-phase plan must select the exact global-prefix set the
    naive single-window formulation defines — at budgets that cut
    mid-bucket, at bucket boundaries, and in the tail."""
    from pinterest_data_pipeline_spark.operators.sampling import (
        token_budget_selection,
    )

    got = {
        r["doc_id"]: r["cum_tokens"]
        for r in token_budget_selection(doc_feats, budget).collect()
    }
    w = Window.orderBy(F.desc("margin"), F.asc("doc_id")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = {
        r["doc_id"]: r["cum"]
        for r in doc_feats.withColumn(
            "cum", F.sum(F.col("n_tokens").cast("bigint")).over(w)
        )
        .filter(F.col("cum") <= budget)
        .collect()
    }
    assert got == want
    if 2000 <= budget <= 20000:
        assert 0 < len(got) < doc_feats.count()  # budget actually binds


def test_budget_selection_edges(spark, doc_feats):
    from pinterest_data_pipeline_spark.operators.sampling import (
        token_budget_selection,
    )

    assert token_budget_selection(doc_feats, 0).count() == 0
    total = doc_feats.agg(
        F.sum(F.col("n_tokens").cast("bigint"))
    ).collect()[0][0]
    assert (
        token_budget_selection(doc_feats, int(total)).count()
        == doc_feats.count()
    )


def test_epoch_capped_mixture_invariants(spark, doc_feats):
    """Water-filling invariants: no source exceeds its cap, the total
    stays within budget, and the redistribution round only ever raises
    allocations of uncapped sources."""
    from pinterest_data_pipeline_spark.operators.sampling import (
        epoch_capped_mixture,
    )

    budget = 30000
    rows = epoch_capped_mixture(
        doc_feats.select("source", F.col("n_tokens").alias("toks")),
        "source",
        "toks",
        budget=budget,
    ).collect()
    assert rows
    assert all(r["alloc_tokens"] <= r["cap_tokens"] for r in rows)
    assert all(r["alloc_tokens"] >= 0 for r in rows)
    assert sum(r["alloc_tokens"] for r in rows) <= budget
    assert all(r["epochs_r6"] <= 2.0 for r in rows)

    # at the 30k budget no cap binds at this SF, so exercise the
    # water-filling path with a near-saturating budget: some sources
    # must cap out, totals must still respect cap and budget, and the
    # redistribution must push the total above the naive
    # proportional-only round-1 sum.
    total = sum(r["n_tokens"] for r in rows)
    big = int(total * 1.8)
    rows2 = epoch_capped_mixture(
        doc_feats.select("source", F.col("n_tokens").alias("toks")),
        "source",
        "toks",
        budget=big,
    ).collect()
    assert any(r["alloc_tokens"] == r["cap_tokens"] for r in rows2)
    assert all(r["alloc_tokens"] <= r["cap_tokens"] for r in rows2)
    assert sum(r["alloc_tokens"] for r in rows2) <= big
    # redistribution actually moved surplus: the allocated total exceeds
    # what capped sources alone lost to their caps under round 1
    assert sum(r["alloc_tokens"] for r in rows2) > 0.9 * big


def test_leakage_safe_split_is_cluster_coherent(spark, sf_dir):
    """THE guarantee: no near-dup cluster straddles a split boundary."""
    from pinterest_data_pipeline_spark.plans.staged_round6 import (
        leakage_safe_split_assign,
    )

    out = leakage_safe_split_assign(spark, sf_dir).cache()
    spans = (
        out.groupBy("owner_id")
        .agg(F.count_distinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
    )
    assert spans.count() == 0
    splits = {r["split"] for r in out.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"}
    assert "train" in splits


def test_keep_best_quality_keeps_cluster_argmax(spark, sf_dir, doc_feats):
    """Every keeper carries the maximum margin of its cluster, and the
    cluster sizes account for the whole corpus."""
    from pinterest_data_pipeline_spark.plans.staged_round6 import (
        _cluster_owners,
        dedup_keep_best_quality,
    )

    kept = dedup_keep_best_quality(spark, sf_dir).cache()
    n_docs = doc_feats.count()
    assert kept.agg(F.sum("cluster_size")).collect()[0][0] == n_docs
    # recompute per-cluster max margin independently and compare
    owners = _cluster_owners(spark, sf_dir)
    best = (
        doc_feats.join(owners, "doc_id")
        .groupBy("cluster_id")
        .agg(F.max("margin").alias("max_margin"))
    )
    bad = kept.join(best, "cluster_id").filter(
        F.col("keep_margin") != F.col("max_margin")
    )
    assert bad.count() == 0
    # some real multi-doc clusters exist at this SF
    assert kept.filter(F.col("cluster_size") > 1).count() > 0


def test_adjacent_pair_counts_tiny_fixture(spark):
    from pinterest_data_pipeline_spark.operators.text import (
        adjacent_pair_counts,
    )

    df = spark.createDataFrame(
        [("the cat sat on the cat",), ("single",), ("THE cat",)],
        "text string",
    )
    got = {
        (r["pair"], r["n"])
        for r in adjacent_pair_counts(df, top_n=10).collect()
    }
    assert got == {
        ("the cat", 3),  # lowercased: 'THE cat' merges in
        ("cat sat", 1),
        ("sat on", 1),
        ("on the", 1),
    }


def test_epoch_capped_mixture_matches_pure_python(spark):
    """Differential test: replicate the water-filling arithmetic in
    plain Python (sorted-order sqrt folds, float asks, integer floors)
    over a controlled fixture and require exact equality — pins the
    float/floor semantics the oracle also encodes."""
    import math

    from pinterest_data_pipeline_spark.operators.sampling import (
        epoch_capped_mixture,
    )

    # (source, n_docs, tokens_per_doc): 'a' is large (will be ask-bound),
    # 'c' tiny (cap-bound under a big budget)
    spec = {"a": (100, 50), "b": (25, 40), "c": (4, 10)}
    rows = [
        (s, float(tok))
        for s, (n, tok) in spec.items()
        for _ in range(n)
    ]
    df = spark.createDataFrame(rows, "source string, toks double")

    def pure(budget, max_epochs=2):
        names = sorted(spec)
        n = {s: spec[s][0] for s in names}
        tok = {s: spec[s][0] * spec[s][1] for s in names}
        cap = {s: int(tok[s] * max_epochs) for s in names}
        w1 = 0.0
        for s in names:  # sorted-order fold, like both engines
            w1 += math.sqrt(n[s])
        a1 = {
            s: min(cap[s], int(math.floor(float(budget) * math.sqrt(n[s]) / w1)))
            for s in names
        }
        left = budget - sum(a1.values())
        w2 = 0.0
        for s in names:
            w2 += math.sqrt(n[s] if a1[s] < cap[s] else 0)
        out = {}
        for s in names:
            extra = 0
            if a1[s] < cap[s] and w2 > 0:
                extra = min(
                    cap[s] - a1[s],
                    int(math.floor(float(left) * math.sqrt(n[s]) / w2)),
                )
            out[s] = a1[s] + extra
        return out

    for budget in (500, 3000, 9000, 13000):
        got = {
            r["source"]: r["alloc_tokens"]
            for r in epoch_capped_mixture(
                df, "source", "toks", budget=budget
            ).collect()
        }
        assert got == pure(budget), (budget, got, pure(budget))
    # sanity on the fixture: the big budget must actually cap 'c'
    assert pure(13000)["c"] == spec["c"][0] * spec["c"][1] * 2


def test_adjacent_pair_counts_matches_python_counter(spark, sf_dir):
    """Differential test on real documents: the Spark top-50 must equal
    a pure-Python Counter over the same lowercased whitespace bigrams,
    under the same (n DESC, pair ASC) total order."""
    from collections import Counter

    from pinterest_data_pipeline_spark.operators.text import (
        adjacent_pair_counts,
    )
    from pinterest_data_pipeline_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    texts = [r["text"] for r in docs.select("text").collect()]
    counter = Counter()
    for t in texts:
        toks = t.strip().lower().split()
        counter.update(
            f"{a} {b}" for a, b in zip(toks, toks[1:])
        )
    want = sorted(counter.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    got = [
        (r["pair"], r["n"])
        for r in adjacent_pair_counts(docs, top_n=50).collect()
    ]
    assert got == want


def test_cap_drop_report_counts_hot_bucket(spark):
    """Synthetic hot bucket: 70 rows share one key (over the 64 cap),
    5 rows spread across small keys — the report must count exactly the
    hot bucket's over-cap rows (70 - 64 = 6) as trimmed, in integer
    ppm, and agree with what the min-id retention actually removes."""
    from pinterest_data_pipeline_spark.operators.dedup import (
        cap_drop_report,
        cap_bucket_size,
    )

    rows = [("hot", i) for i in range(70)] + [(f"k{i}", 100 + i) for i in range(5)]
    df = spark.createDataFrame(rows, "key string, __id int")
    rep = cap_drop_report(df, ["key"], max_bucket_size=64).collect()[0]
    assert rep["n_buckets"] == 6
    assert rep["n_buckets_capped"] == 1
    assert rep["n_rows"] == 75
    assert rep["n_rows_trimmed"] == 6
    assert rep["trimmed_rows_ppm"] == 6 * 1000000 // 75
    # and the report agrees with what cap_bucket_size actually trims:
    # the hot bucket keeps its 64 min-__id rows, small buckets intact
    kept = cap_bucket_size(df, ["key"], 64)
    assert rep["n_rows"] - rep["n_rows_trimmed"] == kept.count()
    hot_kept = [
        r["__id"] for r in kept.filter(F.col("key") == "hot").collect()
    ]
    assert sorted(hot_kept) == list(range(64))


def test_incremental_embedding_converges_to_one_shot(spark, sf_dir):
    """Union of per-ingest incremental embedding pair sets (uncapped)
    must equal the one-shot banded-LSH pair set, and every incremental
    pair must contain >= 1 member of its ingest."""
    from pinterest_data_pipeline_spark.operators.similarity import (
        embedding_banded,
        incremental_embedding_candidates,
        lsh_near_duplicates,
    )
    from pinterest_data_pipeline_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    one_shot = {
        (r["id_a"], r["id_b"])
        for r in lsh_near_duplicates(emb, threshold=0.3).collect()
    }
    got = set()
    for lo, hi in [(0, 200), (200, 350), (350, 10**9)]:
        inc = emb.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        )
        state = embedding_banded(emb.filter(F.col("vec_id") < lo))
        pairs = incremental_embedding_candidates(
            inc, state, threshold=0.3
        ).collect()
        for r in pairs:
            assert lo <= max(r["id_a"], r["id_b"])  # >= 1 new member
        got |= {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == one_shot
    assert one_shot  # non-vacuous at this SF / threshold


def test_budget_selection_zero_token_docs_at_exact_boundary(spark):
    """Regression (round-5 review): a bucket whose cumulative prefix
    EQUALS the budget can still contribute zero-token documents — the
    eligibility filter must be <= budget, not <, or the operator
    diverges from the single-window spec on 0-token docs."""
    from pinterest_data_pipeline_spark.operators.sampling import (
        token_budget_selection,
    )

    rows = [(1, 10, 5), (2, 5, 0), (3, 5, 4), (4, 3, 0)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, margin bigint, n_tokens int"
    )
    got = {
        r["doc_id"]: r["cum_tokens"]
        for r in token_budget_selection(df, 5).collect()
    }
    # prefix sums in (margin DESC, doc_id ASC) order:
    #   doc1=5, doc2=5 (zero tokens at the exact boundary — kept),
    #   doc3=9 (out), doc4=9 (out: zero-token docs never re-enter once
    #   the running total has exceeded the budget)
    assert got == {1: 5, 2: 5}


# ------------------------------------------------------------ DSIR


def _py_dsir_weights(corpus, target_langs={"en"}, buckets=4096):
    """Pure-Python DSIR replay (hashlib md5 — no Spark, no DuckDB):
    the third, engine-independent implementation of the staged
    pipeline's semantics."""
    import hashlib
    import math

    def bucket(gram):
        return int(hashlib.md5(gram.encode()).hexdigest()[:8], 16) % buckets

    feats = {}
    for doc_id, lang, text in corpus:
        toks = [t for t in text.split() if t]
        grams = toks + [
            " ".join(toks[i : i + 2]) for i in range(len(toks) - 1)
        ]
        c = {}
        for g in grams:
            b = bucket(g)
            c[b] = c.get(b, 0) + 1
        feats[doc_id] = (lang in target_langs, c)
    ct, cr = {}, {}
    for tgt, c in feats.values():
        for b, n in c.items():
            (ct if tgt else cr)[b] = (ct if tgt else cr).get(b, 0) + n
    t_total, r_total = float(sum(ct.values())), float(sum(cr.values()))
    out = {}
    for doc_id, (tgt, c) in feats.items():
        if tgt:
            continue
        w = sum(
            n
            * (
                math.log(ct.get(b, 0) + 1.0)
                - math.log(t_total + buckets)
                - math.log(cr.get(b, 0) + 1.0)
                + math.log(r_total + buckets)
            )
            for b, n in c.items()
        )
        out[doc_id] = (sum(c.values()), round(w, 6))
    return out


def test_dsir_weights_match_pure_python_reference(spark):
    """Differential: Spark vs a hashlib/math replay on a corpus built to
    exercise smoothing (raw-only grams), shared grams, and repeats."""
    from pinterest_data_pipeline_spark.operators.dsir import (
        importance_weights,
    )

    corpus = [
        (0, "en", "the cat sat on the mat"),
        (1, "en", "the dog sat on the log"),
        (2, "en", "cats and dogs and cats"),
        (3, "fr", "the cat sat on the mat"),
        (4, "fr", "le chat le chat le chat"),
        (5, "de", "der hund sat on the mat"),
        (6, "zh", "completely unseen grams here"),
    ]
    df = spark.createDataFrame(
        corpus, "doc_id bigint, lang string, text string"
    )
    got = {
        r["doc_id"]: (r["n_feats"], r["logweight"])
        for r in importance_weights(df, F.col("lang") == "en").collect()
    }
    assert got == _py_dsir_weights(corpus)


def test_dsir_target_clone_outscores_disjoint_doc(spark):
    """Semantics: a raw doc that IS a target doc verbatim must carry a
    higher importance weight than one sharing no grams with the target
    (the selection pressure DSIR exists to apply)."""
    from pinterest_data_pipeline_spark.operators.dsir import (
        importance_weights,
    )

    corpus = [
        (0, "en", "alpha beta gamma delta epsilon zeta"),
        (1, "en", "alpha beta gamma eta theta iota"),
        (2, "fr", "alpha beta gamma delta epsilon zeta"),
        (3, "fr", "rouge vert bleu jaune violet orange"),
    ]
    df = spark.createDataFrame(
        corpus, "doc_id bigint, lang string, text string"
    )
    w = {
        r["doc_id"]: r["logweight"]
        for r in importance_weights(df, F.col("lang") == "en").collect()
    }
    assert w[2] > w[3]


def test_dsir_gumbel_topk_is_the_k_largest_keys(spark, sf_dir):
    """The Gumbel-top-k identity, pinned mechanically: the selected set
    equals the k largest (rounded logweight + deterministic Gumbel)
    keys over ALL raw docs, computed by a second, window-free path."""
    from pinterest_data_pipeline_spark.operators.dsir import (
        gumbel_noise,
        gumbel_topk_selection,
        importance_weights,
    )
    from pinterest_data_pipeline_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    sel = gumbel_topk_selection(docs, F.col("lang") == "en", k=16).collect()
    assert [r["rank"] for r in sel] == list(range(1, 17))
    all_keys = (
        importance_weights(docs, F.col("lang") == "en")
        .withColumn(
            "key", F.round(F.col("logweight") + gumbel_noise(F.col("doc_id")), 6)
        )
        .collect()
    )
    expected = sorted(all_keys, key=lambda r: (-r["key"], r["doc_id"]))[:16]
    assert [(r["doc_id"], r["gumbel_key"]) for r in sel] == [
        (r["doc_id"], r["key"]) for r in expected
    ]


# ------------------------------------------------------------- BPE


def _py_bpe(corpus_texts, k):
    """Pure-Python Sennrich-style BPE (no Spark, no DuckDB): word
    frequency dict, overlapping pair counts, greedy left-to-right
    non-overlapping merge, argmax by (count desc, pair lexicographic
    asc). The third, engine-independent implementation."""
    from collections import Counter

    vocab = Counter()
    for text in corpus_texts:
        for w in text.split():
            if w:
                vocab[w] += 1
    pieces = {w: list(w) for w in vocab}
    merges = []
    for rank in range(1, k + 1):
        pairs = Counter()
        for w, cnt in vocab.items():
            p = pieces[w]
            for i in range(len(p) - 1):
                pairs[(p[i], p[i + 1])] += cnt
        if not pairs:
            break
        (l, r), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, l, r, n))
        for w in pieces:
            p, out, i = pieces[w], [], 0
            while i < len(p):
                if i + 1 < len(p) and p[i] == l and p[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(p[i])
                    i += 1
            pieces[w] = out
    return merges, pieces


def test_bpe_merges_match_pure_python_reference(spark):
    """Differential on a corpus built to exercise the greedy-overlap
    case (aaaa), ties (deterministic lexicographic winner), and merged
    pieces re-entering later pair counts (th+e -> the)."""
    from pinterest_data_pipeline_spark.operators.bpe import learn_bpe

    texts = [
        "the theme thesis then the the",
        "aaaa aaaa aa banana bandana",
        "zz zz zz zz zz zz zz zz",
        "the band ran as the anthem began",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    got, vocab = learn_bpe(df, k=8)
    want, want_pieces = _py_bpe(texts, 8)
    assert got == want
    from pinterest_data_pipeline_spark.operators.bpe import split_pieces

    spark_pieces = {
        r["word"]: r["p"]
        for r in vocab.select("word", split_pieces("repr").alias("p")).collect()
    }
    assert spark_pieces == {w: p for w, p in want_pieces.items()}


def test_bpe_encode_piece_count_non_increasing_in_k(spark, sf_dir):
    """More merges can never split a document into MORE pieces — the
    monotonicity that makes BPE a compressor."""
    from pinterest_data_pipeline_spark.operators.bpe import bpe_encode_stats

    from pinterest_data_pipeline_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents").limit(50)
    n0 = {
        r["doc_id"]: r["n_pieces"]
        for r in bpe_encode_stats(docs, k=2).collect()
    }
    n1 = {
        r["doc_id"]: r["n_pieces"]
        for r in bpe_encode_stats(docs, k=6).collect()
    }
    assert set(n0) == set(n1)
    assert all(n1[d] <= n0[d] for d in n0)
    assert any(n1[d] < n0[d] for d in n0)


def test_bpe_stops_early_when_no_pairs_remain(spark):
    """Single-char words only: zero merges possible; learn_bpe must
    stop, not loop or raise."""
    from pinterest_data_pipeline_spark.operators.bpe import learn_bpe

    df = spark.createDataFrame(
        [(0, "a b c a b"), (1, "c b a")], "doc_id bigint, text string"
    )
    merges, vocab = learn_bpe(df, k=4)
    assert merges == []
    assert vocab.count() == 3


# ------------------------------------------------ exact-substring dedup


def _py_spans_and_cut(corpus, L=3, min_count=2):
    """Pure-Python ExactSubstr replay (the third implementation):
    duplicated L-gram starts -> merged maximal spans -> cut text."""
    from collections import Counter

    toks = {d: [t for t in s.split() if t] for d, s in corpus}
    counts = Counter()
    for t in toks.values():
        for i in range(len(t) - L + 1):
            counts[" ".join(t[i : i + L])] += 1
    spans, cut = {}, {}
    for d, t in toks.items():
        starts = [
            i + 1
            for i in range(len(t) - L + 1)
            if counts[" ".join(t[i : i + L])] >= min_count
        ]
        merged = []
        for s in starts:
            e = s + L - 1
            if merged and s <= merged[-1][1] + 1:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        spans[d] = [(s, e, e - s + 1) for s, e in merged]
        covered = {p for s, e in merged for p in range(s, e + 1)}
        kept = [tok for i, tok in enumerate(t, 1) if i not in covered]
        cut[d] = (len(t), len(kept), " ".join(kept))
    return spans, cut


def test_substring_dedup_matches_pure_python_reference(spark):
    """Differential on a corpus exercising: cross-doc duplication,
    within-doc repetition, overlapping flagged windows merging into
    one maximal span, adjacent spans merging, a fully-duplicated doc
    (kept_text ''), and a short doc below L."""
    from pinterest_data_pipeline_spark.operators.substring_dedup import (
        cut_duplicate_spans,
        duplicate_spans,
    )

    corpus = [
        (0, "u0 u1 the quick brown fox jumps over u2 u3"),
        (1, "v0 the quick brown fox jumps over v1 v2 v3"),
        (2, "w0 rep rep rep rep rep rep w1 w2 w3 w4"),
        (3, "the quick brown fox jumps over"),
        (4, "x0 x1"),
        (5, "y0 y1 y2 y3 y4 y5 y6 y7 y8"),
    ]
    df = spark.createDataFrame(corpus, "doc_id bigint, text string")
    want_spans, want_cut = _py_spans_and_cut(corpus, L=3, min_count=2)
    got_spans = {}
    for r in duplicate_spans(df, L=3).collect():
        got_spans.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["span_tokens"])
        )
    assert {
        d: sorted(v) for d, v in got_spans.items()
    } == {d: v for d, v in want_spans.items() if v}
    got_cut = {
        r["doc_id"]: (r["n_tokens"], r["n_kept"], r["kept_text"])
        for r in cut_duplicate_spans(df, L=3).collect()
    }
    assert got_cut == want_cut


def test_substring_dedup_within_doc_repetition_counts(spark):
    """A phrase repeated only WITHIN one document is still duplicated
    text (the paper's self-repetition case)."""
    from pinterest_data_pipeline_spark.operators.substring_dedup import (
        duplicate_spans,
    )

    df = spark.createDataFrame(
        [(0, "a0 p q r a1 a2 p q r a3"), (1, "b0 b1 b2 b3 b4 b5")],
        "doc_id bigint, text string",
    )
    spans = duplicate_spans(df, L=3).collect()
    assert {(r["doc_id"], r["span_start"], r["span_end"]) for r in spans} == {
        (0, 2, 4),
        (0, 7, 9),
    }


def test_substring_dedup_untouched_docs_pass_through(spark, sf_dir):
    """Documents with no duplicated shingle keep every token, and
    kept_text is the whitespace-normalized original."""
    from pinterest_data_pipeline_spark.operators.substring_dedup import (
        cut_duplicate_spans,
        duplicated_starts,
    )
    from pinterest_data_pipeline_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    flagged_ids = {
        r["doc_id"]
        for r in duplicated_starts(docs, L=8).select("doc_id").distinct().collect()
    }
    out = cut_duplicate_spans(docs, L=8).collect()
    assert len(out) == docs.count()
    for r in out:
        if r["doc_id"] not in flagged_ids:
            assert r["n_kept"] == r["n_tokens"]
        else:
            assert r["n_kept"] < r["n_tokens"]


# ---------------------------------------------------- sessionization


def test_sessionize_gap_boundary_is_strict(spark):
    """An event exactly gap_seconds after the previous one CONTINUES
    the session; one microsecond past starts a new one."""
    import datetime as dt

    from pinterest_data_pipeline_spark.operators.sessionize import sessionize

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, 7, t0),
        (2, 7, t0 + dt.timedelta(seconds=1800)),          # exactly gap
        (3, 7, t0 + dt.timedelta(seconds=3600, microseconds=1)),  # past
        (4, 9, t0),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp"
    )
    got = {
        r["event_id"]: (r["user_id"], r["session_id"])
        for r in sessionize(df).collect()
    }
    assert got == {1: (7, 1), 2: (7, 1), 3: (7, 2), 4: (9, 1)}


def test_sessionize_tiebreaks_on_event_id(spark):
    """Simultaneous events order by event_id, so numbering is total
    and engine-stable."""
    import datetime as dt

    from pinterest_data_pipeline_spark.operators.sessionize import sessionize

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(20, 1, t0), (10, 1, t0), (30, 1, t0 + dt.timedelta(hours=2))],
        "event_id bigint, user_id bigint, ts timestamp",
    )
    got = {
        r["event_id"]: r["session_id"]
        for r in sessionize(df).collect()
    }
    assert got == {10: 1, 20: 1, 30: 2}


def test_sessionize_single_exchange_plan(spark, sf_dir):
    """Lag window, session counter and per-session aggregate must ride
    ONE user-keyed Exchange — the operator's scale contract."""
    from pinterest_data_pipeline_spark.operators.sessionize import (
        session_stats,
    )
    from pinterest_data_pipeline_spark.sources.parquet import load_table

    events = load_table(spark, sf_dir, "events")
    plan = (
        session_stats(events)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    exchanges = [
        ln for ln in plan.splitlines() if re.search(r"\bExchange hash", ln)
    ]
    assert len(exchanges) == 1, plan


# ------------------------------------------------------------ DoReMi


def test_doremi_weights_are_a_distribution_and_monotone(spark):
    """Weights sum to 1; the domain with the larger excess loss gets
    more than its baseline share, the below-average one less."""
    from pinterest_data_pipeline_spark.operators.sampling import (
        doremi_reweight,
    )

    rows = (
        [("hard", 5.0 + 0.01 * i) for i in range(10)]
        + [("easy", 1.0 + 0.01 * i) for i in range(30)]
        + [("mid", 3.0)] * 20
    )
    df = spark.createDataFrame(rows, "domain string, loss double")
    out = {r["domain"]: r for r in doremi_reweight(df).collect()}
    total = sum(r["weight"] for r in out.values())
    assert abs(total - 1.0) < 1e-5
    assert out["hard"]["weight"] > 10 / 60          # above baseline share
    assert out["easy"]["weight"] < 30 / 60          # below baseline share
    assert out["easy"]["excess_loss"] == 0.0


def test_doremi_uniform_loss_keeps_baseline_shares(spark):
    """With identical losses everywhere, no excess exists and the
    weights equal the item-count baseline."""
    from pinterest_data_pipeline_spark.operators.sampling import (
        doremi_reweight,
    )

    rows = [("a", 2.0)] * 30 + [("b", 2.0)] * 10
    df = spark.createDataFrame(rows, "domain string, loss double")
    out = {r["domain"]: r["weight"] for r in doremi_reweight(df).collect()}
    assert out == {"a": 0.75, "b": 0.25}


# ------------------------------------- randomized differentials (hypothesis)

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_WORDS = st.sampled_from(["aa", "ab", "ba", "abc", "a", "b", "the", "cat"])
_TEXTS = st.lists(
    st.lists(_WORDS, min_size=0, max_size=12).map(" ".join),
    min_size=1,
    max_size=6,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=_TEXTS, k=st.integers(min_value=1, max_value=5))
def test_bpe_random_corpora_match_pure_python(spark, texts, k):
    """Randomized corpora from a tiny, collision-prone alphabet —
    hammers tie-breaks, overlap greediness and early stopping."""
    from pinterest_data_pipeline_spark.operators.bpe import learn_bpe

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    got, _ = learn_bpe(df, k=k, checkpoint=False)
    want, _ = _py_bpe(texts, k)
    assert got == want


def _py_sessionize(rows, gap_s):
    out, by_user = {}, {}
    for eid, uid, ts in rows:
        by_user.setdefault(uid, []).append((ts, eid))
    for uid, evs in by_user.items():
        evs.sort()
        sid = 0
        prev = None
        for ts, eid in evs:
            if prev is None or (ts - prev).total_seconds() > gap_s:
                sid += 1
            out[eid] = (uid, sid)
            prev = ts
    return out


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    deltas=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),        # user
            st.integers(min_value=0, max_value=4000),      # offset seconds
            st.integers(min_value=0, max_value=999999),    # microseconds
        ),
        min_size=1,
        max_size=20,
    )
)
def test_sessionize_random_timelines_match_pure_python(spark, deltas):
    """Randomized event timelines with sub-second offsets — hammers
    the strict-gap boundary and simultaneous-event tiebreak."""
    import datetime as dt

    from pinterest_data_pipeline_spark.operators.sessionize import sessionize

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, u, t0 + dt.timedelta(seconds=s, microseconds=us))
        for i, (u, s, us) in enumerate(deltas)
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp"
    )
    got = {
        r["event_id"]: (r["user_id"], r["session_id"])
        for r in sessionize(df).collect()
    }
    assert got == _py_sessionize(rows, 1800)


def test_cross_group_leakage_ignores_within_group_repetition(spark):
    """The same passage repeated inside ONE source never flags; the
    identical passage appearing in a second source flags in both."""
    from pinterest_data_pipeline_spark.operators.substring_dedup import (
        cross_group_leakage_spans,
        duplicate_spans,
    )

    corpus = [
        (0, "s1", "p q r a b c d e f g h i"),
        (1, "s1", "x y z a b c d e f u v w"),   # same source: no flag
        (2, "s2", "m n a b c d e f o p q2 r2"),  # crosses boundary
    ]
    df = spark.createDataFrame(corpus, "doc_id bigint, source string, text string")
    cross = cross_group_leakage_spans(df, "source", L=6)
    got = {(r["doc_id"], r["span_start"], r["span_end"]) for r in cross.collect()}
    # 'a b c d e f' sits at positions 4-9 in docs 0/1 and 3-8 in doc 2;
    # docs 0 and 1 share source s1, so only the doc0/doc2 and doc1/doc2
    # boundary-crossing content flags — in all three docs, because the
    # shingle itself exists in two sources.
    assert got == {(0, 4, 9), (1, 4, 9), (2, 3, 8)}
    plain = duplicate_spans(df, L=6)
    assert plain.count() == 3  # occurrence-based form flags the same three


def test_dsir_topk_plans_as_take_ordered(spark, sf_dir):
    """The Gumbel top-k must plan as TakeOrderedAndProject (no global
    sort materialization, no cartesian) — the claim its docstring and
    PERF.md make, CI-pinned."""
    from pinterest_data_pipeline_spark.operators.dsir import (
        gumbel_topk_selection,
    )
    from pinterest_data_pipeline_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        gumbel_topk_selection(docs, F.col("lang") == "en", k=16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_soft_dedup_weights_are_consistent_with_clusters(spark, sf_dir):
    """Every document appears exactly once; singleton weight is 1.0;
    each cluster's weights sum to 1.0 (the duplicated mass is
    normalized away, not dropped)."""
    from pinterest_data_pipeline_spark.sources.parquet import load_table

    out = QUERIES["soft_dedup_weights"](spark, sf_dir).collect()
    docs_n = load_table(spark, sf_dir, "documents").count()
    assert len(out) == docs_n
    assert len({r["doc_id"] for r in out}) == docs_n
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for rows in by_cluster.values():
        assert all(r["cluster_size"] == len(rows) for r in rows)
        assert abs(sum(r["soft_weight"] for r in rows) - 1.0) < 1e-4
        if len(rows) == 1:
            assert rows[0]["soft_weight"] == 1.0


def test_bpe_fertility_groups_cover_all_languages(spark, sf_dir):
    """One row per language; fertility >= 1 piece per word and the
    grand piece total matches the per-document encode stats."""
    from pinterest_data_pipeline_spark.operators.bpe import (
        bpe_encode_stats,
        bpe_fertility,
    )
    from pinterest_data_pipeline_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    fert = bpe_fertility(docs, k=6).collect()
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert {r["lang"] for r in fert} == langs
    assert all(r["pieces_per_token"] >= 1.0 for r in fert)
    total_pieces = sum(r["n_pieces"] for r in fert)
    enc = bpe_encode_stats(docs, k=6).agg(F.sum("n_pieces")).collect()
    assert total_pieces == enc[0][0]


def test_sessionize_agrees_with_sparks_session_window(spark, sf_dir):
    """Cross-validation against Spark's OWN session_window operator:
    both implementations must produce identical (user, session_start,
    n_events, total_value) sets — session_window's end is last-event +
    gap, so only the start anchors the comparison.

    Boundary caveat: an event EXACTLY gap seconds after the previous
    one continues the session in our operator (strict >) but starts a
    new one under session_window's exclusive window end; the testdata
    timestamps are microsecond-grain randoms, so the measure-zero
    boundary never occurs here (test_sessionize_gap_boundary_is_strict
    pins our side of it explicitly)."""
    from pinterest_data_pipeline_spark.operators.sessionize import (
        session_stats,
    )
    from pinterest_data_pipeline_spark.sources.parquet import load_table

    events = load_table(spark, sf_dir, "events")
    mine = {
        (r["user_id"], r["session_start"], r["n_events"], r["total_value"])
        for r in session_stats(events).collect()
    }
    builtin = {
        (r["user_id"], r["session_start"], r["n_events"], r["total_value"])
        for r in (
            events.groupBy(
                "user_id",
                F.session_window("ts", "30 minutes").alias("w"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 6).alias("total_value"),
            )
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                "n_events",
                "total_value",
            )
        ).collect()
    }
    assert mine == builtin


def test_curation_v2_stage_counts_are_monotone(spark, sf_dir):
    """Docs and tokens shrink (weakly) at every stage, every stage is
    non-empty, and at least one real reduction happens at each grain
    on the planted-clone testdata."""
    rows = {
        r["stage_id"]: (r["n_docs"], r["n_tokens"])
        for r in QUERIES["curation_v2_report"](spark, sf_dir).collect()
    }
    assert set(rows) == {1, 2, 3, 4}
    for i in (2, 3, 4):
        assert rows[i][0] <= rows[i - 1][0]
        assert rows[i][1] <= rows[i - 1][1]
        assert rows[i][0] > 0
    assert rows[4][1] < rows[1][1]  # the pipeline removed something


def test_bigram_lm_detects_word_order(spark):
    """The semantics unigram scoring cannot have: a document with the
    corpus's common phrases outranks the SAME words shuffled, even
    though their unigram statistics are identical."""
    from pinterest_data_pipeline_spark.operators.tfidf import bigram_logprob

    fluent = "the cat sat on the mat"
    shuffled = "mat the on sat cat the"
    corpus = [
        (0, "the cat sat on the mat today"),
        (1, "the dog sat on the mat again"),
        (2, "a cat sat on a mat"),
        (3, fluent),
        (4, shuffled),
    ]
    df = spark.createDataFrame(corpus, "doc_id bigint, text string")
    got = {
        r["doc_id"]: r["avg_bigram_logprob"]
        for r in bigram_logprob(df).collect()
    }
    assert got[3] > got[4]


def test_bigram_lm_excludes_single_token_docs(spark):
    from pinterest_data_pipeline_spark.operators.tfidf import bigram_logprob

    df = spark.createDataFrame(
        [(0, "hello"), (1, "hello world"), (2, "")],
        "doc_id bigint, text string",
    )
    out = bigram_logprob(df).collect()
    assert {r["doc_id"] for r in out} == {1}
    assert out[0]["n_pairs"] == 1


def test_null_safe_join_keeps_the_null_key_row(spark, sf_dir):
    """The semantics the query exists to pin: the NULL key ('error'
    events) row joins under <=> and would be dropped by a plain equi
    join."""
    out = QUERIES["join_null_safe_agg"](spark, sf_dir).collect()
    ks = [r["k"] for r in out]
    assert None in ks
    null_row = next(r for r in out if r["k"] is None)
    assert null_row["n_all"] >= null_row["n_big"] > 0


def test_mattr_semantics_on_constructed_docs(spark):
    """All-distinct tokens score 1.0; a one-word loop scores 1/W; the
    diversity ordering holds between them; short docs are excluded."""
    from pinterest_data_pipeline_spark.operators.text import mattr

    W = 5
    docs = [
        (0, " ".join(f"w{i}" for i in range(12))),   # all distinct
        (1, " ".join(["rep"] * 12)),                  # one word
        (2, "a b a b a b a b a b a b"),               # two words
        (3, "too short"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    nw, score = mattr("text", window=W)
    out = {
        r["doc_id"]: (r["nw"], r["s"])
        for r in df.select(
            "doc_id", nw.alias("nw"), score.alias("s")
        ).filter(F.col("nw") >= 1).collect()
    }
    assert set(out) == {0, 1, 2}
    assert out[0][1] == 1.0
    assert out[1][1] == round(1 / W, 6)
    assert out[2][1] == round(2 / W, 6)
    assert out[0][0] == 12 - W + 1
    # unfiltered callers get honest NULLs for below-window docs, never
    # a negative window count or a garbage score
    short = (
        df.filter(F.col("doc_id") == 3)
        .select(nw.alias("nw"), score.alias("s"))
        .collect()[0]
    )
    assert short["nw"] is None and short["s"] is None
