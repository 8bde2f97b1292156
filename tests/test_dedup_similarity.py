"""Behavioral tests for dedup + similarity operators: LSH recall vs the
exact oracle, planted-duplicate detection, brute-force-vs-numpy cosine."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators import dedup, similarity
from pinterest_data_pipeline_spark.sources.parquet import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _pairs(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def test_minhash_lsh_recall_vs_exact(docs):
    """Every exact-Jaccard≥0.5 pair must be found by the LSH path (32
    hashes / 8 bands ⇒ ~99.9% per-pair probability at s=0.5; the planted
    duplicates sit well above threshold so recall must be total here)."""
    exact = _pairs(dedup.ngram_jaccard_pairs(docs, "doc_id", "text"))
    lsh = _pairs(dedup.near_duplicates_minhash(docs, "doc_id", "text"))
    assert exact, "fixture should contain planted near-duplicates"
    missed = exact - lsh
    assert not missed, f"LSH missed {len(missed)} of {len(exact)} pairs: {sorted(missed)[:5]}"
    assert lsh == exact  # verification filter kills false candidates


def test_minhash_candidates_superset_of_verified(docs):
    cands = _pairs(dedup.minhash_lsh_candidates(docs, "doc_id", "text"))
    verified = _pairs(dedup.near_duplicates_minhash(docs, "doc_id", "text"))
    assert verified <= cands


def test_exact_dedup_finds_planted_copy(spark, docs):
    """Duplicate a row verbatim (different id, whitespace-mangled) and the
    fingerprint groups must merge it with the original."""
    src = docs.limit(1).collect()[0]
    clone = [(999_999, "  " + src["text"].upper().lower() + "  ", src["lang"],
              src["source"], src["n_chars"])]
    plus = docs.unionByName(spark.createDataFrame(clone, docs.schema))
    groups = dedup.exact_dedup_groups(plus, "doc_id", "text")
    dup_group = groups.filter(F.col("n_copies") >= 2).collect()
    assert any(g["keep_id"] == src["doc_id"] for g in dup_group)


def test_simhash_identical_doc_distance_zero(spark, docs):
    src = docs.limit(1).collect()[0]
    clone = [(999_999, src["text"], src["lang"], src["source"], src["n_chars"])]
    plus = docs.unionByName(spark.createDataFrame(clone, docs.schema))
    pairs = dedup.simhash_near_pairs(plus, "doc_id", "text")
    hit = pairs.filter(
        (F.col("id_a") == src["doc_id"]) & (F.col("id_b") == 999_999)
    ).collect()
    assert len(hit) == 1 and hit[0]["hamming"] == 0


def test_cosine_topk_matches_numpy(emb):
    """Brute-force Spark top-k must agree with a numpy reference."""
    import numpy as np

    rows = emb.orderBy("vec_id").collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    queries = emb.filter(F.col("vec_id") < 3)
    got = similarity.cosine_topk(emb, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid in [0, 1, 2]:
        qv = vecs[qid]
        sims = {
            vid: round(float(qv @ v) / (np.linalg.norm(qv) * np.linalg.norm(v)), 6)
            for vid, v in vecs.items() if vid != qid
        }
        expected = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        got_q = sorted(by_q[qid], key=lambda r: r["rank"])
        for (evid, esim), row in zip(expected, got_q):
            assert row["neighbor_id"] == evid
            assert math.isclose(row["score"], esim, abs_tol=2e-6)


def test_ivf_topk_subset_of_partition(emb):
    got = similarity.ivf_topk(emb, emb.filter(F.col("vec_id") < 3), k=5)
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    for r in got.collect():
        assert labels[r["neighbor_id"]] == labels[r["query_id"]]


def test_dedup_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 5), (3, "b", 7), (4, "b", 9)], "id int, k string, v int"
    )
    out = dedup.dedup_keep_first(df, ["k"], [F.desc("v"), F.asc("id")])
    assert {(r["k"], r["id"]) for r in out.collect()} == {("a", 1), ("b", 4)}


def test_hyperplane_lsh_finds_planted_clones(spark, emb):
    """Near-identical vectors (cos≈1) must collide in some band with
    probability ~1: plant 10 clones with tiny perturbation and require
    full recall at threshold 0.98."""
    from pyspark.sql import functions as F

    base = emb.filter(F.col("vec_id") < 10)
    clones = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.000001)).alias("embedding"),
        "label",
    )
    plus = emb.unionByName(clones)
    pairs = similarity.lsh_near_duplicates(plus, threshold=0.98)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    expected = {(i, i + 100000) for i in range(10)}
    assert expected <= got, expected - got


def test_hyperplane_lsh_subset_of_bruteforce(spark, emb):
    """LSH output pairs must be a subset of brute-force pairs at the same
    threshold (verification step guarantees no false positives)."""
    from pyspark.sql import functions as F

    lsh = {(r["id_a"], r["id_b"]) for r in
           similarity.lsh_near_duplicates(emb, threshold=0.4).collect()}
    brute = {(r["id_a"], r["id_b"]) for r in
             similarity.embedding_near_duplicates(emb, threshold=0.4).collect()}
    assert lsh <= brute


def test_bucket_cap_trims_degenerate_bucket_keeps_small_ones(spark):
    """A pile of identical documents lands in one oversized bucket per
    band; with max_bucket_size below the pile size, the bucket keeps
    only its min-id members (bounded per-task work: pair output among
    the pile is capped at C(C-1)/2, and only the smallest ids appear),
    while a genuinely near-duplicate pair in a small bucket is found
    untouched."""
    pile = [(i, "common boilerplate junk text repeated verbatim") for i in range(60)]
    near = [
        (1000, "the quick brown fox jumps over the lazy dog today"),
        (1001, "the quick brown fox jumps over the lazy dog tonight"),
    ]
    df = spark.createDataFrame(pile + near, "doc_id long, text string")

    uncapped = dedup.near_duplicates_minhash(df, "doc_id", "text")
    capped = dedup.near_duplicates_minhash(
        df, "doc_id", "text", max_bucket_size=50
    )
    uncapped_pairs, capped_pairs = _pairs(uncapped), _pairs(capped)
    assert (1000, 1001) in uncapped_pairs
    assert any(a < 60 and b < 60 for a, b in uncapped_pairs)
    assert (1000, 1001) in capped_pairs  # small bucket untouched by the cap
    pile_pairs = {(a, b) for a, b in capped_pairs if a < 60 and b < 60}
    # retention: pairs survive but only among the 50 min-id rows,
    # bounded at C(50,2)
    assert pile_pairs
    assert all(a < 50 and b < 50 for a, b in pile_pairs)
    assert len(pile_pairs) <= 50 * 49 // 2


def test_bucket_cap_bounds_candidate_count(spark):
    """With cap C, no bucket may contribute more than C(C-1)/2 pairs:
    a 60-doc identical pile capped at 10 yields exactly the C(10,2)=45
    pairs among its 10 min-id members (every band selects the same
    min-id survivors for identical signatures), never the 1770 uncapped
    pairs — and the pile is still DETECTED as duplicated, the recall
    property whole-bucket dropping destroyed."""
    pile = [(i, "same text in every row of this corpus") for i in range(60)]
    df = spark.createDataFrame(pile, "doc_id long, text string")
    cands = dedup.minhash_lsh_candidates(
        df, "doc_id", "text", max_bucket_size=10
    )
    got = _pairs(cands)
    assert len(got) == 45
    assert all(a < 10 and b < 10 for a, b in got)


def test_vector_lsh_bucket_cap(spark, emb):
    """Hyperplane LSH with a cap below the planted-clone pile size must
    bound the pile's pairs to its min-id retained members and keep
    unrelated small-bucket behavior intact — in particular the ORIGINAL
    (vec_id 0, smallest id in the bucket) still pairs with retained
    clones: recall for the planted original survives the cap."""
    base = emb.filter(F.col("vec_id") == 0)
    clones = base
    for r in range(60):
        clones = clones.unionByName(
            base.select(
                (F.col("vec_id") + 200000 + r).alias("vec_id"),
                "embedding",
                "label",
            )
        )
    plus = emb.unionByName(clones.filter(F.col("vec_id") >= 200000))
    capped = similarity.lsh_near_duplicates(
        plus, threshold=0.98, max_bucket_size=30
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # the original is the bucket's min id: it is always retained and
    # pairs with the retained clones
    assert any(a == 0 and b >= 200000 for a, b in got)
    clone_ids = {x for a, b in got for x in (a, b) if x >= 200000}
    # only min-id clones survive; pair work stays cap-bounded
    assert clone_ids and max(clone_ids) < 200000 + 30
    assert len(clone_ids) <= 30


def test_bucket_cap_recall_survives_heavy_duplication(spark):
    """The ×100-saturation regression pin: replicate a small corpus so
    EVERY winnowing fingerprint bucket exceeds the cap, and the planted
    near-copy pair (the two smallest doc ids) must still be reported —
    under whole-bucket dropping this exact setup returned zero rows.
    Recall for min-id members ≈ 1 at arbitrary duplication depth."""
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = a + " extra trailing words appended here"
    rows = [(0, a), (1, b)]
    # 100 verbatim replicas of each: every fingerprint occurs 100+ times
    rows += [(100 + i, a) for i in range(100)]
    rows += [(300 + i, b) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.winnowing_shared_passages(
        df, min_shared=2, max_bucket_size=16
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got, "cap saturation must degrade recall, not zero it"
    assert (0, 1) in got  # the min-id planted pair always survives


def test_int8_quantize_roundtrip_error(spark, emb):
    """Dequantized vectors must sit within half a quantization step of
    the original per element, q values within [-127, 127], and an
    all-zero vector must quantize to scale 0 with zero q."""
    qz = emb.select(
        "vec_id",
        "embedding",
        similarity.quantize_int8(F.col("embedding")).alias("qz"),
    )
    checked = qz.select(
        F.array_max(
            F.zip_with(
                similarity.dequantize_int8(F.col("qz.q"), F.col("qz.scale")),
                F.col("embedding"),
                lambda r, v: F.abs(r - v.cast("double")),
            )
        ).alias("max_err"),
        (F.col("qz.scale") * 0.5 * 1.000000001).alias("half_step"),
        F.array_max(F.transform(F.col("qz.q"), F.abs)).alias("max_q"),
    ).collect()
    assert all(r["max_err"] <= r["half_step"] for r in checked)
    assert all(r["max_q"] <= 127 for r in checked)

    zero = spark.createDataFrame(
        [(1, [0.0] * 4)], "vec_id long, embedding array<float>"
    ).select(similarity.quantize_int8(F.col("embedding")).alias("qz"))
    row = zero.collect()[0]["qz"]
    assert row["scale"] == 0.0 and row["q"] == [0, 0, 0, 0]


@pytest.mark.parametrize("iterations", [0, 1])
def test_kmeans_codebook_fewer_vectors_than_k_fails_loud(spark, iterations):
    """n < k raises a clear ValueError before any Lloyd iteration: no
    IndexError from the empty-cluster fallback, and no short codebook
    returned silently when no iteration runs."""
    from pinterest_data_pipeline_spark.operators.clustering import kmeans_codebook

    tiny = spark.createDataFrame(
        [(i, [float(i)] * 4) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="at least k=8"):
        kmeans_codebook(tiny, k=8, iterations=iterations)


def _cc_graph(spark, seed):
    """A diameter-40 chain over shuffled ids (path doubling needs several
    rounds) plus 60 random pairs over 120 ids (many small components)."""
    rng = random.Random(seed)
    chain = rng.sample(range(1000, 2000), 41)
    pairs = list(zip(chain, chain[1:]))
    pairs += [tuple(rng.sample(range(120), 2)) for _ in range(60)]
    return pairs, spark.createDataFrame(pairs, "id_a long, id_b long")


def _union_find_min_labels(pairs):
    """node -> smallest id of its component (union by smaller root)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.mark.parametrize("seed", [16, 17])
def test_duplicate_clusters_match_union_find(spark, seed):
    from pinterest_data_pipeline_spark.operators.clustering import (
        duplicate_clusters,
    )

    pairs, df = _cc_graph(spark, seed)
    got = {
        r["doc_id"]: r["cluster_id"] for r in duplicate_clusters(df).collect()
    }
    assert got == _union_find_min_labels(pairs)


def test_duplicate_clusters_construction_job_budget(spark):
    """Building the clusters on this graph fires at most 98 jobs (the
    eager rounds). No shuffle job runs before the edge barrier: under
    AQE the barrier keeps no partitioning for the rounds to reuse."""
    from pinterest_data_pipeline_spark.operators.clustering import (
        duplicate_clusters,
    )
    from tests.test_declared_schemas import _jobs_fired

    _, df = _cc_graph(spark, 16)
    jobs = _jobs_fired(spark, lambda: duplicate_clusters(df))
    assert len(jobs) <= 98, len(jobs)


def test_ivf_multiprobe_recall_improves_and_converges(spark, emb):
    """Multiprobe recall vs brute force must be monotone in nprobe, and
    probing ALL codebook partitions must equal the exact top-k."""
    from pinterest_data_pipeline_spark.operators.clustering import kmeans_codebook

    centroids = kmeans_codebook(emb, k=4, iterations=2)
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }

    def recall(nprobe):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.ivf_topk_multiprobe(
                emb, queries, centroids, k=5, nprobe=nprobe
            ).collect()
        }
        return len(got & exact) / len(exact), got

    r1, _ = recall(1)
    r2, _ = recall(2)
    r4, got4 = recall(4)
    assert r1 <= r2 <= r4
    assert r4 == 1.0 and got4 == exact  # all partitions == brute force


# ------------------------------------------------------- semantic dedup

def test_semantic_dedup_precision_and_counts(spark, emb):
    """Every removed row has a genuine cosine-duplicate with a lower id
    (precision 1 vs brute force), and counts are self-consistent."""
    from pinterest_data_pipeline_spark.operators.semantic_dedup import (
        semantic_dedup,
    )

    tau = 0.4
    survivors = semantic_dedup(emb, k=8, threshold=tau)
    total = emb.count()
    kept = {r["vec_id"] for r in survivors.select("vec_id").collect()}
    removed = {
        r["vec_id"] for r in emb.select("vec_id").collect()
    } - kept
    assert len(kept) + len(removed) == total

    brute = similarity.embedding_near_duplicates(emb, threshold=tau)
    dup_b = {r["id_b"] for r in brute.select("id_b").collect()}
    # precision: nothing removed without a brute-force duplicate witness
    assert removed <= dup_b


def test_semantic_dedup_removes_planted_clones(spark, emb):
    """At production thresholds (cos≈1 clones) a clone lands in the same
    k-means cell as its source, so semantic dedup must remove every
    planted clone and keep every source (min-id survivor). Corpus note:
    at weak thresholds (0.4) cell boundaries split far-apart 'pairs' and
    recall drops to ~0.3 on this data — that regime is what the
    partition-free embedding_near_duplicates audit path is for."""
    from pinterest_data_pipeline_spark.operators.semantic_dedup import (
        semantic_dedup,
    )

    base = emb.filter(F.col("vec_id") < 10)
    clones = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.000001)).alias(
            "embedding"
        ),
        "label",
    )
    plus = emb.unionByName(clones)
    kept = {
        r["vec_id"]
        for r in semantic_dedup(plus, k=8, threshold=0.98)
        .select("vec_id")
        .collect()
    }
    for i in range(10):
        assert i in kept, f"source {i} wrongly removed"
        assert i + 100000 not in kept, f"clone of {i} survived"


def test_semantic_dedup_summary_deterministic(spark, emb):
    from pinterest_data_pipeline_spark.operators.semantic_dedup import (
        semantic_dedup_summary,
    )

    a = semantic_dedup_summary(emb, k=8, threshold=0.4).collect()[0]
    b = semantic_dedup_summary(emb, k=8, threshold=0.4).collect()[0]
    assert a == b
    assert a["n_total"] == a["n_removed"] + a["n_survivors"]


def test_semantic_dedup_gate_invariants(spark, emb):
    """The round-7 gate row: replayable totals plus zero violations —
    including at a threshold LOW enough that rows actually get removed,
    so conservation is exercised on a non-trivial partition."""
    from pinterest_data_pipeline_spark.operators.semantic_dedup import (
        semantic_dedup,
        semantic_dedup_gate,
    )

    g = semantic_dedup_gate(emb, k=8, threshold=0.4).collect()[0]
    assert g["conservation_violations"] == 0
    assert g["range_violations"] == 0
    assert g["witness_violations"] == 0
    assert g["min_id_removed_violations"] == 0
    # the gate's totals are the real corpus totals, and at 0.4 the
    # synthetic corpus genuinely loses rows (max pairwise cosine ~0.51)
    rows = emb.count()
    survivors = semantic_dedup(emb, k=8, threshold=0.4).count()
    assert g["n_total"] == rows
    assert survivors < rows
    # auto-k formula replay (k explicit here, so k_cells == 8)
    assert g["k_cells"] == 8


def test_incremental_dedup_converges_to_one_shot(spark, sf_dir):
    """existing-survivors ∪ increment-survivors must equal the one-shot
    dedup of the whole corpus — the property that makes daily-ingest
    dedup sound."""
    from pinterest_data_pipeline_spark.operators import dedup as d
    from pinterest_data_pipeline_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    full = (
        docs.withColumn("fp", d.fingerprint_md5("text"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    want = {r["doc_id"] for r in full.collect()}

    old = docs.filter(F.col("doc_id") < 300)
    inc = docs.filter(F.col("doc_id") >= 300)
    old_survivors = (
        old.withColumn("fp", d.fingerprint_md5("text"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    state = old_survivors.select(F.col("fp").alias("fingerprint"))
    inc_survivors = d.incremental_exact_survivors(inc, state, "doc_id", "text")
    got = {r["doc_id"] for r in old_survivors.collect()} | {
        r["doc_id"] for r in inc_survivors.collect()
    }
    assert got == want


def test_incremental_minhash_candidates_converge_to_one_shot(spark, sf_dir):
    """Candidates(old) ∪ incremental-candidates(new | old-state) must
    equal the one-shot candidate set over everything: incremental LSH
    signatured ONLY the increment, yet no pair is missed and no spurious
    pair appears."""
    from pinterest_data_pipeline_spark.operators import dedup as d
    from pinterest_data_pipeline_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") < 300)
    inc = docs.filter(F.col("doc_id") >= 300)

    want = {
        (r["id_a"], r["id_b"])
        for r in d.minhash_lsh_candidates(docs, "doc_id", "text").collect()
    }
    old_pairs = {
        (r["id_a"], r["id_b"])
        for r in d.minhash_lsh_candidates(old, "doc_id", "text").collect()
    }
    state = d.minhash_banded(old, "doc_id", "text")
    inc_pairs = {
        (r["id_a"], r["id_b"])
        for r in d.incremental_minhash_candidates(
            inc, state, "doc_id", "text"
        ).collect()
    }
    assert old_pairs | inc_pairs == want
    assert not (old_pairs & inc_pairs)  # increment emits only ≥1-new pairs


# ---------------------------------------------------- blocked triangle join


def test_blocked_near_duplicates_matches_plain(spark, emb):
    """The triangle block decomposition is pure parallelism: for any
    n_blocks the pair set (ids AND scores) must equal the plain
    within-cell join's — that equivalence is what keeps the DuckDB
    oracle valid for the blocked registered query."""
    plain = {
        (r["id_a"], r["id_b"], r["score"])
        for r in similarity.embedding_near_duplicates(
            emb, threshold=0.4, partition_col="label"
        ).collect()
    }
    assert plain, "fixture produced no pairs — test would be vacuous"
    for n_blocks in (2, 3, 8):
        blocked = {
            (r["id_a"], r["id_b"], r["score"])
            for r in similarity.embedding_near_duplicates(
                emb, threshold=0.4, partition_col="label", n_blocks=n_blocks
            ).collect()
        }
        assert blocked == plain, n_blocks
    # the BLAS kernel must agree too (round-6 scores absorb the ≤1-ulp
    # summation-order difference vs the sequential fold)
    for n_blocks in (2, 8):
        blas = {
            (r["id_a"], r["id_b"], r["score"])
            for r in similarity.embedding_near_duplicates(
                emb,
                threshold=0.4,
                partition_col="label",
                n_blocks=n_blocks,
                scorer="numpy",
            ).collect()
        }
        assert blas == plain, ("numpy", n_blocks)


def test_blocked_near_duplicates_matches_plain_unpartitioned(spark, emb):
    """Same equivalence on the partition-free audit path."""
    plain = {
        (r["id_a"], r["id_b"], r["score"])
        for r in similarity.embedding_near_duplicates(
            emb, threshold=0.4
        ).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"], r["score"])
        for r in similarity.embedding_near_duplicates(
            emb, threshold=0.4, n_blocks=4
        ).collect()
    }
    assert blocked == plain


def test_near_duplicates_cell_cap_drops_oversized_cell(spark, emb):
    """max_cell_size excludes a degenerate pile-up cell entirely while
    small cells keep their pairs (the cap_bucket_size recall argument
    applied to coarse partitions)."""
    base = emb.filter(F.col("vec_id") == 0)
    # pile must exceed the cap while every NATURAL cell stays under it
    # (the sf0.001 fixture's largest label cell is 63 rows)
    pile = spark.range(200).join(base.drop("vec_id", "label")).select(
        (F.col("id") + 300000).alias("vec_id"),
        "embedding",
        F.lit(999).alias("label"),
    )
    plus = emb.unionByName(pile)
    capped = similarity.embedding_near_duplicates(
        plus, threshold=0.4, partition_col="label", max_cell_size=100
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert not any(a >= 300000 or b >= 300000 for a, b in got)  # pile gone
    uncapped_small = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_duplicates(
            emb, threshold=0.4, partition_col="label"
        ).collect()
    }
    assert got == uncapped_small  # small cells untouched


# ------------------------------------------------- partition-scoped LSH


def test_partitioned_lsh_scopes_buckets_to_cells(spark, emb):
    """With partition_col, every emitted pair is same-cell, clones inside
    a cell are still found (identical vectors collide in every band),
    and the pair set is exactly the unpartitioned LSH set restricted to
    same-cell pairs."""
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    scoped = {
        (r["id_a"], r["id_b"])
        for r in similarity.lsh_near_duplicates(
            emb, threshold=0.4, partition_col="label"
        ).collect()
    }
    assert all(labels[a] == labels[b] for a, b in scoped)
    unscoped = {
        (r["id_a"], r["id_b"])
        for r in similarity.lsh_near_duplicates(emb, threshold=0.4).collect()
    }
    assert scoped == {
        (a, b) for a, b in unscoped if labels[a] == labels[b]
    }


def test_semantic_dedup_lsh_path_removes_clones(spark, emb):
    """The bounded-codebook scale path (within_cell='lsh') must remove
    planted exact clones (identical vectors share every LSH bucket →
    recall 1 on true duplicates) and can only remove a SUBSET of what
    all-pairs removes (LSH candidates ⊆ all pairs)."""
    from pinterest_data_pipeline_spark.operators.semantic_dedup import (
        semantic_dedup,
    )

    base = emb.filter(F.col("vec_id") < 10)
    clones = base.select(
        (F.col("vec_id") + 400000).alias("vec_id"), "embedding", "label"
    )
    plus = emb.unionByName(clones)
    lsh_survivors = {
        r["vec_id"]
        for r in semantic_dedup(
            plus, k=8, threshold=0.98, within_cell="lsh"
        ).collect()
    }
    assert not any(v >= 400000 for v in lsh_survivors)  # clones removed
    ap_survivors = {
        r["vec_id"]
        for r in semantic_dedup(
            plus, k=8, threshold=0.98, within_cell="all_pairs"
        ).collect()
    }
    assert ap_survivors <= lsh_survivors  # LSH removes a subset of pairs
