"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale-first design (the whole point of these operators is the 100 TB
corpus case):

- Exact dedup is a fingerprint ``groupBy`` — one shuffle on the md5 key,
  map-side partial aggregation, no sort.
- Near-dup avoids the O(n²) all-pairs comparison: MinHash signatures are
  computed scan-side with built-in higher-order array functions (no Python
  UDF), then banded so only documents sharing a band bucket are joined.
  The candidate join shuffles on (band, band_key) — collision buckets,
  not the corpus — and exact Jaccard verification runs only on candidates.
- SimHash uses 4×16-bit chunk banding: Hamming distance ≤ 3 guarantees at
  least one identical chunk (pigeonhole), so the chunk equi-join finds all
  near pairs without a cross join.

Everything is deterministic: hash seeds are fixed Python constants baked
into the plan, and MinHash parameter hashes are masked to 32 bits before
the ``a*h + b mod p`` mix so ANSI mode can never see a long overflow.
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators.parallel import fan_out
from pinterest_data_pipeline_spark.operators.text import (
    fingerprint_md5,
    normalize_text,
    tokens,
)

_MASK32 = (1 << 32) - 1
_MINHASH_PRIME = 4294967311  # smallest prime > 2^32
_SHINGLE_K = 3
_N_HASHES = 32  # MinHash signature length
_BANDS = 8  # LSH bands over the signature
_MINHASH_SEED = 42
_CHUNK_BITS = 16  # SimHash band width


# ------------------------------------------------------------ portable hashes
#
# xxhash64 / murmur3 are Spark-only, so any query whose OUTPUT is a
# function of hash values can't be verified by the DuckDB oracle. These
# md5-prefix hashes compute bit-identically on both engines
# (Spark: conv(substr(md5(x),1,k),16,10); DuckDB:
# CAST(concat('0x', substr(md5(x),1,k)) AS BIGINT)), so the registered
# correctness queries run the SAME banded algorithms end-to-end under a
# hash the oracle can reproduce. Production paths default to xxhash64
# (one JVM intrinsic vs md5's digest + hex + parse — measurably cheaper
# per token at corpus scale); `portable=True` is the verification mode.


def portable_hash60(c: Column) -> Column:
    """60-bit hash (15 md5 hex chars) — fits signed 64 with headroom."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def portable_hash32(c: Column) -> Column:
    """32-bit hash (8 md5 hex chars) — ANSI-safe under the minhash mix."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def minhash_params(n_hashes: int, seed: int) -> list[tuple[int, int]]:
    """The (a, b) permutation constants — public so oracle SQL can bake
    the identical literals into the DuckDB side."""
    return _minhash_params(n_hashes, seed)


# ---------------------------------------------------------------- exact


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by normalized-md5 fingerprint.

    Returns (fingerprint, keep_id, n_copies): the survivor is the minimum
    id — deterministic, unlike ``dropDuplicates`` which keeps an arbitrary
    row per key."""
    return (
        df.withColumn("fingerprint", fingerprint_md5(text_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def dedup_keep_first(
    df: DataFrame, key_cols: Sequence[str], order_cols: Sequence[Column]
) -> DataFrame:
    """Deterministic ``dropDuplicates``: keep the first row per key under
    an explicit total order (``dropDuplicates`` itself keeps an arbitrary
    row — same nondeterminism family as the reference's ``first()``,
    SURVEY.md §2.5)."""
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(*order_cols)
    return df.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    ).drop("__rn")


# ---------------------------------------------------------------- shingles


def word_shingles(text: Column | str) -> Column:
    """Distinct word ``_SHINGLE_K``-grams as an array column
    (whole-document fallback for texts shorter than that)."""
    toks = tokens(text)
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), n - _SHINGLE_K),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, _SHINGLE_K)),
    )
    return F.array_distinct(
        F.when(n >= _SHINGLE_K, grams).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two array-set columns (double)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return F.round(inter / F.greatest(union, F.lit(1.0)), 6)


# ---------------------------------------------------------------- bucket cap


def cap_bucket_size(
    banded: DataFrame,
    bucket_cols: Sequence[str],
    max_bucket_size: int,
    id_col: str = "__id",
) -> DataFrame:
    """Bound LSH buckets at ``max_bucket_size`` rows by DETERMINISTIC
    within-bucket retention: each oversized bucket keeps its
    ``max_bucket_size`` members with the smallest ``id_col`` and trims
    the rest.

    A bucket of B members emits B(B-1)/2 candidate pairs, so one degenerate
    100k-member bucket (empty documents, boilerplate, an all-zero vector)
    is 5×10⁹ pairs — a single straggler task that kills the job at corpus
    scale. Capping bounds per-bucket pair work at cap²/2.

    Retention (not whole-bucket drop) makes recall DEGRADE instead of
    collapse: under heavy uniform duplication — e.g. a ×100-replicated
    corpus where every bucket exceeds the cap — the min-id survivors of
    each bucket still meet and pair, so duplicate detection keeps
    working at reduced pair volume; a whole-bucket drop zeroes every
    pair the moment duplication crosses the cap (the ×100 stress
    failure mode this replaces). The min-id rule is a total order
    within a bucket (ids are unique per bucket in every banded relation
    here), so results are deterministic and an oracle can replay the
    retention with ``ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY
    id) <= cap``. Trim volume is observable via
    :func:`cap_drop_report`.

    The rank window shuffles on the same (band, key) the candidate join
    shuffles on, so it adds no new partitioning."""
    w = Window.partitionBy(*[F.col(c) for c in bucket_cols]).orderBy(
        F.col(id_col).asc()
    )
    return (
        banded.withColumn("__bucket_rn", F.row_number().over(w))
        .filter(F.col("__bucket_rn") <= max_bucket_size)
        .drop("__bucket_rn")
    )


# ---------------------------------------------------------------- minhash


def _minhash_params(n_hashes: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 31), rng.randrange(0, 1 << 31))
        for _ in range(n_hashes)
    ]


def _signature_fold(
    hashes: Column, params: list[tuple[int, int]]
) -> Column:
    """The n-permutation MinHash signature as ONE fold over the
    shingle-hash array, maintaining all running minima in a single
    accumulator array — instead of n separate
    ``array_min(transform(...))`` passes, each of which re-traversed
    (and re-allocated) the hash array per row (measured: the banded
    signature table 2.6 → 1.4-1.8 s at sf0.1, identical rows). The
    per-element arithmetic is the same ``pmod(h*a + b, p)``, and the
    min over the same values is the same long regardless of traversal
    shape — values are bit-identical by construction. The seed value
    ``p`` is strictly greater than any pmod result and every document
    has ≥1 shingle (``word_shingles`` whole-document fallback), so the
    seed never survives into a signature."""
    prime = F.lit(_MINHASH_PRIME)
    ab = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in params
        ]
    )
    init = F.array(*[prime.cast("long") for _ in params])
    return F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc,
            ab,
            lambda m, pr: F.least(
                m, F.pmod(h * pr["a"] + pr["b"], prime)
            ),
        ),
    )


def minhash_signature(text: Column | str) -> Column:
    """MinHash signature as an array<long> of length 32.

    Shingles are hashed once with xxhash64, masked to 32 bits (so the
    ``a*h + b`` mix stays under 2^63 — ANSI-safe), then one fold across
    shingles keeps the running ``(a_i*h + b_i) mod p`` minimum for
    every permutation at once (:func:`_signature_fold`). All built-in
    expressions: one scan, no UDF, no shuffle."""
    sh = word_shingles(text)
    hashes = F.transform(sh, lambda s: F.xxhash64(s).bitwiseAND(F.lit(_MASK32)))
    return _signature_fold(hashes, _minhash_params(_N_HASHES, _MINHASH_SEED))


def minhash_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    portable: bool = False,
) -> DataFrame:
    """The banded MinHash signature table (__id, band, key) — the
    join-able LSH STATE. Persist this per corpus and incremental ingest
    joins new rows against it without re-signaturing history
    (:func:`incremental_minhash_candidates`).

    PERFORMANCE TRAP, measured 10× at sf0.1: the shingle construction
    (regex split + per-gram slice/concat) and xxhash64 must be
    materialized ONCE per row behind a shuffle barrier. Without the
    barrier, Catalyst's projection collapse inlines the shingle-hash
    expression into each of the 32 permutation transforms (and both
    join sides), re-building every shingle string 32×+ per row.
    fan_out first so that materialization runs at full parallelism even
    when the scan is a single unsplittable row group (operators/parallel).
    The output is exchanged on (band, key): band keys materialize once
    and the exchange IS the candidate join's (and the bucket-cap
    window's) required partitioning."""
    rows = _N_HASHES // _BANDS
    shingle_hash = (
        portable_hash32
        if portable
        else (lambda s: F.xxhash64(s).bitwiseAND(F.lit(_MASK32)))
    )
    params = _minhash_params(_N_HASHES, _MINHASH_SEED)
    # All _N_HASHES permutation minima in ONE traversal of the shingle
    # hashes (:func:`_signature_fold` — bit-identical values, ~n× fewer
    # array passes/allocations per row). The fold is the SINGLE
    # reference to the shingle-hash array, so it runs scan-side at
    # fan-out width and the barrier exchange now ships 32 longs per row
    # instead of the whole token-hash array (guide §2.3); the
    # multi-reference band keys read the materialized __sig column
    # behind the exchange, exactly the projection-collapse hazard the
    # original barrier existed for.
    sig = _signature_fold(
        F.transform(
            word_shingles(text_col),
            lambda s: shingle_hash(s),
        ),
        params,
    )
    hashed = (
        fan_out(df)
        .select(F.col(id_col).alias("__id"), sig.alias("__sig"))
        .repartition(F.col("__id"))
    )
    mins = [F.get(F.col("__sig"), i) for i in range(_N_HASHES)]

    def band_key(b: int) -> Column:
        band_mins = mins[b * rows : (b + 1) * rows]
        if portable:
            # md5 over the decimal-rendered mins: identical in DuckDB
            return F.md5(F.concat_ws(",", F.lit(b), *band_mins))
        return F.hash(F.lit(b), *band_mins)

    banded = hashed.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_key(b).alias("key"))
                    for b in range(_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("__id", "bk.band", "bk.key")
    return banded.repartition(F.col("band"), F.col("key"))


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_bucket_size: int | None = None,
    portable: bool = False,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    Signature is split into ``_BANDS`` bands of ``_N_HASHES/_BANDS`` rows;
    documents sharing any band hash become a candidate pair. Returns
    distinct (id_a, id_b) with id_a < id_b. The self-join keys on
    (band, band_key): only same-bucket rows meet, so the shuffle volume is
    the bucket histogram, not |df|². ``max_bucket_size`` (recommended at
    corpus scale) excludes degenerate oversized buckets — see
    :func:`cap_bucket_size`."""
    banded = minhash_banded(df, id_col, text_col, portable=portable)
    if max_bucket_size is not None:
        banded = cap_bucket_size(banded, ["band", "key"], max_bucket_size)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )


def near_duplicates_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_bucket_size: int | None = None,
    portable: bool = False,
) -> DataFrame:
    """LSH candidates verified with exact shingle Jaccard ≥ 0.5.

    Returns (id_a, id_b, jaccard_sim). Verification joins the (small)
    candidate set back to per-document shingle sets — the expensive exact
    comparison never touches non-candidate pairs.

    The shingle sides carry a `merge` hint: their SERIALIZED shuffle size
    sits near the autoBroadcastJoinThreshold at corpus scale while the
    DESERIALIZED array-of-strings rows are ~20× larger, so an AQE
    auto-broadcast intermittently builds a gigabyte-plus hash relation
    and dies (observed at the ×100 stress point: the same query OOMs or
    completes depending on which side of the 64 MB estimate a run
    lands). Sort-merge never builds an in-memory relation, keys on the
    high-cardinality id, and costs nothing measurable at small SF."""
    sh = fan_out(df).select(
        F.col(id_col).alias("__id"),
        word_shingles(text_col).alias("__sh"),
    )
    cands = minhash_lsh_candidates(
        df, id_col, text_col, max_bucket_size=max_bucket_size, portable=portable
    )
    a = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")).hint(
        "merge"
    )
    b = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b")).hint(
        "merge"
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard_sim", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard_sim") >= 0.5)
        .select("id_a", "id_b", "jaccard_sim")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """All-pairs exact n-gram Jaccard above threshold.

    O(n²) by construction — the SQL-oracle-checkable baseline for the LSH
    path, meant for bounded subsets (candidate verification, sampled
    audits), never the full corpus. Returns (id_a, id_b, jaccard_sim)."""
    sh = fan_out(df).select(
        F.col(id_col).alias("__id"),
        word_shingles(text_col).alias("__sh"),
    )
    a = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard_sim", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


# ---------------------------------------------------------------- simhash


def token_hashes(text: Column | str, portable: bool = False) -> Column:
    """Hash per normalized token — the SimHash input array.

    xxhash64 by default; ``portable=True`` switches to the md5-prefix
    hash (:func:`portable_hash60`) so the DuckDB oracle can recompute
    the identical SimHash — only bits 0..59 are then ever set, which
    leaves the 4×16-bit chunking and its pigeonhole recall guarantee
    untouched (chunk 3 simply has 4 constant-zero high bits)."""
    hash_fn = portable_hash60 if portable else F.xxhash64
    return F.transform(tokens(normalize_text(text)), lambda t: hash_fn(t))


def simhash_chunks_from_hashes(hs: Column) -> Column:
    """64-bit SimHash from a PRE-MATERIALIZED token-hash array column.

    Per bit position b: count tokens with bit b set; the simhash bit is
    the majority sign (ones·2 > |tokens| ⇔ the classic ±1 sum > 0).
    Emitted directly as 16-bit chunks (no 64-bit assembly, no overflow).
    Chunk equality is the LSH band for Hamming-distance search.

    SINGLE traversal: one ``aggregate`` fold carries a 64-wide one-count
    array (``zip_with`` against a constant mask array per token). The
    first formulation ran 64 independent per-bit folds — same arithmetic
    op count, but 64 unrolled loops of generated code; the single-pass
    form halved cold wall time (2.1 s vs 4.6 s at sf0.1) because the
    compact loop JIT-compiles fast. Pass a materialized column (see
    :func:`simhash_near_pairs`), not a raw expression, or projection
    collapse re-runs the tokenize+hash work per reference."""
    return _chunks_from_ones(_simhash_ones(hs), F.size(hs))


def _simhash_ones(hs: Column) -> Column:
    """The 64-wide per-bit one-count array — the single-pass fold half
    of :func:`simhash_chunks_from_hashes`. Split out so hot paths can
    project it ONCE and let the 64 chunk-bit terms reference the
    resulting ATTRIBUTE: inlined, every ``element_at(ones, i)`` embeds
    its own copy of the whole fold tree, and the analyzed plan carried
    64 copies (222 KB of plan text, ~1.5 s of driver analysis per
    construction at sf0.1 — bench time, since the bench times
    construction + action). CollapseProject keeps the split projections
    apart because the fold is non-cheap and referenced 64×."""
    # bit 63 is the sign bit: 1<<63 overflows a signed long literal, so
    # the top mask is the two's-complement Long.MIN_VALUE
    masks = F.array(
        *[F.lit((1 << b) if b < 63 else -(1 << 63)) for b in range(64)]
    )
    return F.aggregate(
        hs,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(0),
        ),
    )


def _chunks_from_ones(ones: Column, n: Column) -> Column:
    """Assemble the 16-bit SimHash chunks from the one-count array and
    the token count (majority per bit: ones·2 > n)."""
    n_chunks = 64 // _CHUNK_BITS
    chunks = []
    for j in range(n_chunks):
        chunk = F.lit(0)
        for b in range(_CHUNK_BITS):
            chunk = chunk + F.when(
                F.element_at(ones, j * _CHUNK_BITS + b + 1) * 2 > n,
                F.lit(1 << b),
            ).otherwise(0)
        chunks.append(chunk)
    return F.array(*chunks)


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ 3.

    With 4 chunks, distance ≤ 3 implies ≥ 1 identical chunk, so candidates
    come from 4 chunk-equality joins (unioned), then exact Hamming via
    bit_count(xor) filters. Returns (id_a, id_b, hamming).
    ``portable=True`` hashes tokens with the
    md5-prefix hash so the pair set is DuckDB-reproducible (banding is
    pigeonhole-COMPLETE for Hamming ≤ 3, so the output is exactly the
    set of all pairs at distance ≤ 3 — oracle-checkable from first
    principles, not just sampled)."""
    # Compute tokenize+hash+fold in ONE post-fan_out projection (the
    # single-pass fold references the token-hash array a handful of
    # times; codegen subexpression elimination materializes it once per
    # row), then put the shuffle BARRIER above the finished signature:
    # the banded self-join reads both sides from the exchanged
    # (id, 4×int) rows, so the expensive fold is never duplicated into
    # the join lineage — and the barrier shuffle moves 5 ints per row,
    # not the token-hash arrays. fan_out first: the heavy projection
    # runs at full width even off a single-row-group scan
    # (operators/parallel).
    # Three-step projection: hashes → (ones, n) → chunks. The fold and
    # the chunk assembly stay SEPARATE projections so each of the 64
    # chunk-bit terms references the one-count ATTRIBUTE instead of
    # inlining its own copy of the fold tree (_simhash_ones rationale:
    # 222 KB of analyzed plan and ~1.5 s of per-construction driver
    # analysis collapse to one fold).
    sh = (
        fan_out(df)
        .select(
            F.col(id_col).alias("__id"),
            token_hashes(text_col, portable=portable).alias("__hs"),
        )
        .select(
            "__id",
            _simhash_ones(F.col("__hs")).alias("__ones"),
            F.size("__hs").alias("__n"),
        )
        .select(
            "__id",
            _chunks_from_ones(F.col("__ones"), F.col("__n")).alias("__sh"),
        )
        .repartition(F.col("__id"))
    )
    banded = sh.select(
        "__id",
        "__sh",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("band"), F.get("__sh", j).alias("key"))
                    for j in range(4)
                ]
            )
        ).alias("bk"),
    ).select("__id", "__sh", "bk.band", "bk.key")
    # pre-partition on the join keys: the self-join then needs no
    # exchange of its own
    banded = banded.repartition(F.col("band"), F.col("key"))
    left, right = banded.alias("l"), banded.alias("r")
    hamming = sum(
        F.bit_count(
            F.get(F.col("l.__sh"), j).bitwiseXOR(F.get(F.col("r.__sh"), j))
        )
        for j in range(4)
    )
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


def containment(a: Column, b: Column) -> Column:
    """Asymmetric-set containment, symmetrized by the smaller side:
    |A∩B| / min(|A|,|B|). Catches near-CONTAINMENT pairs (one document
    quoting or wrapping another) that Jaccard under-scores — a 50-gram
    doc fully inside a 5000-gram doc has Jaccard ≈ 0.01 but containment
    1.0. Standard companion to Jaccard in dedup audits."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return F.round(
        inter / F.greatest(F.least(F.size(a), F.size(b)).cast("double"), F.lit(1.0)),
        6,
    )


def incremental_exact_survivors(
    increment: DataFrame,
    existing_fingerprints: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Exact-dedup an INCREMENT against an already-deduplicated corpus —
    the daily-ingest pattern: the existing corpus is never reprocessed;
    only its fingerprint set (one md5 per kept doc — the mergeable dedup
    state) participates.

    A new document survives iff (a) its fingerprint is absent from the
    existing set (anti join) and (b) it is the min-id holder of its
    fingerprint WITHIN the increment (same survivor rule as the full
    pass, so repeated increments converge to the identical corpus a
    one-shot dedup would build). Returns surviving increment rows plus
    their fingerprints — the caller appends those fingerprints to the
    state table for the next increment.

    Scale: cost is O(|increment| + |existing state|) per ingest, with
    the anti join shuffling on the fingerprint key both sides are
    already keyed by; the corpus text is never touched again.
    """
    fp = increment.withColumn("fingerprint", fingerprint_md5(text_col))
    fresh = fp.join(existing_fingerprints, "fingerprint", "anti")
    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col))
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def incremental_minhash_candidates(
    increment: DataFrame,
    existing_banded: DataFrame,
    id_col: str,
    text_col: str,
    portable: bool = False,
) -> DataFrame:
    """Near-dup CANDIDATES for an increment against a stored corpus —
    only the new documents are signatured; the corpus participates as
    its persisted band table (:func:`minhash_banded` output), so per
    ingest the LSH work is O(|increment|) plus one bucket-keyed join
    against state. Emits every candidate pair with ≥1 new member
    (new-new AND new-old; old-old pairs were emitted by earlier runs —
    buckets are uncapped, so the union over ingests converges to the
    one-shot candidate set, which the convergence test pins). Pairs are
    normalized to id_a < id_b."""
    new_banded = minhash_banded(
        increment, id_col, text_col, portable=portable
    ).withColumn("__new", F.lit(True))
    all_banded = existing_banded.withColumn(
        "__new", F.lit(False)
    ).unionByName(new_banded)
    left, right = all_banded.alias("l"), all_banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.__id") < F.col("r.__id"))
            & (F.col("l.__new") | F.col("r.__new")),
        )
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )


# ---------------------------------------------------------------- winnowing


def winnowing_fingerprints(
    df: DataFrame,
    *,
    k: int = 5,
    window: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS rolling-hash scheme,
    Schleimer et al., SIGMOD'03): hash every word ``k``-gram of
    ``text``, slide a ``window`` over the hash sequence, keep each
    window's MINIMUM — the selected set is guaranteed to contain at
    least one hash from every run of ``window`` consecutive grams, so
    any shared substring of ``k + window - 1`` tokens between two
    documents yields a shared fingerprint, while storage shrinks to
    ~2/(window+1) of the gram stream. This is the "document
    fingerprinting (rolling hash)" scheme proper — exact dedup hashes
    whole docs, MinHash approximates global
    Jaccard; winnowing localizes: it finds documents sharing PASSAGES.

    Returns distinct (doc_id, fp) rows (set semantics: the selected
    minima VALUES per document — positional tie-break variants select
    the same value set). Documents shorter than ``k`` tokens fingerprint
    their whole text; gram streams shorter than ``window`` keep their
    single global minimum.

    Scale: one pure-expression scan (tokens → gram hashes → window
    minima inside a single projection, no UDF, no shuffle); output is
    the winnowed fingerprint relation, ~2n_grams/(window+1) rows. Pair
    generation downstream is a fingerprint-keyed join — bucket-bounded
    like every LSH join here (cap_bucket_size applies unchanged).

    ``portable=True`` switches the gram hash to the md5-prefix form both
    engines compute bit-identically (oracle twin in
    plans/round5_promotions.py)."""
    if k < 1 or window < 1:
        raise ValueError(f"k and window must be >= 1 (got k={k}, window={window})")
    toks = tokens("text")
    t = F.col("__t")
    n = F.size(t)
    gram = lambda i: F.concat_ws(" ", F.slice(t, i, k))  # noqa: E731
    hash_fn = portable_hash32 if portable else (
        lambda c: F.xxhash64(c).cast("long")
    )
    grams = F.when(
        n >= k,
        F.transform(F.sequence(F.lit(1), n - (k - 1)), gram),
    ).otherwise(F.array(F.concat_ws(" ", t)))
    gh = F.col("__gh")
    m = F.size(gh)
    minima = F.when(
        m >= window,
        F.transform(
            F.sequence(F.lit(1), m - (window - 1)),
            lambda j: F.array_min(F.slice(gh, j, window)),
        ),
    ).otherwise(F.array(F.array_min(gh)))
    from pinterest_data_pipeline_spark.operators.parallel import fan_out

    return (
        fan_out(df)
        .select(F.col("doc_id"), toks.alias("__t"))
        .select(
            "doc_id",
            F.transform(grams, lambda g: hash_fn(g)).alias("__gh"),
        )
        .select(
            "doc_id",
            F.explode(F.array_distinct(minima)).alias("fp"),
        )
        # exchange on fp: same pattern as minhash_banded — the pair
        # self-join and the bucket-cap window both need this exact
        # partitioning, and the shared Exchange subtree lets
        # ReuseExchange materialize the (expensive, md5-per-gram)
        # fingerprint computation ONCE for both join sides instead of
        # re-scanning the corpus per side
        .repartition(F.col("fp"))
    )


def winnowing_shared_passages(
    df: DataFrame,
    *,
    min_shared: int = 2,
    max_bucket_size: int | None = 64,
    portable: bool = False,
) -> DataFrame:
    """Passage-overlap pairs via winnowing: ``doc_id``s whose ``text``
    shares at least ``min_shared`` winnowed fingerprints (5-grams,
    window 4), with the shared count — the plagiarism/near-copy
    detector over local passages (contrast: MinHash pairs approximate
    WHOLE-document Jaccard).

    Scale: fingerprint-keyed self-join; hot fingerprints (boilerplate
    passages) are trimmed to their ``max_bucket_size`` min-id members by
    ``cap_bucket_size`` exactly like LSH band buckets, so pair output
    stays bucket-bounded while heavy duplication still pairs among the
    retained rows instead of silently vanishing."""
    fps = winnowing_fingerprints(df, portable=portable)
    fps = fps.withColumnRenamed("doc_id", "__id")
    if max_bucket_size is not None:
        fps = cap_bucket_size(fps, ["fp"], max_bucket_size)
    # materialize the fingerprint relation once: the self-join otherwise
    # re-executes the whole corpus scan + md5-per-gram pipeline for each
    # side (ReuseExchange cannot dedupe them when the planner broadcasts
    # one side). The checkpointed relation is the winnowed ~2/5
    # fraction of the gram stream, small next to the text it came from.
    fps = fps.localCheckpoint(eager=False)
    left, right = fps.alias("l"), fps.alias("r")
    return (
        left.join(
            right,
            (F.col("l.fp") == F.col("r.fp"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .groupBy(
            F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b")
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def cap_drop_report(
    banded: DataFrame, bucket_cols: Sequence[str], max_bucket_size: int
) -> DataFrame:
    """One-row audit of what :func:`cap_bucket_size` trims at
    ``max_bucket_size``: total and over-cap bucket counts, and the rows
    the min-id retention removes (``n - cap`` per oversized bucket),
    plus the trimmed-row share in integer ppm (floor division — exact
    in every engine). "No silent caps": every capped pipeline here
    bounds its pair work, and this report is the companion that makes
    the bound's cost OBSERVABLE — at ×100 uniform replication every
    winnowing fingerprint bucket is hot, and the retention keeps cap
    rows of each while this report quantifies exactly how many replicas
    were trimmed, a queryable number instead of a surprise in a pair
    count.

    Scale: one partial-combinable aggregate per bucket key (the same
    shuffle the candidate join pays anyway), then a single-row agg."""
    sizes = banded.groupBy(*[F.col(c) for c in bucket_cols]).agg(
        F.count(F.lit(1)).alias("__n")
    )
    cap = int(max_bucket_size)
    return (
        sizes.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum(F.when(F.col("__n") > cap, 1).otherwise(0))
            .cast("bigint")
            .alias("n_buckets_capped"),
            F.sum("__n").cast("bigint").alias("n_rows"),
            F.sum(
                F.when(F.col("__n") > cap, F.col("__n") - cap).otherwise(0)
            )
            .cast("bigint")
            .alias("n_rows_trimmed"),
        )
        .withColumn(
            "trimmed_rows_ppm",
            F.expr(
                "(n_rows_trimmed * 1000000) div greatest(n_rows, 1)"
            ).cast("bigint"),
        )
    )
