"""Training-data pipeline queries: dedup, similarity search, text analysis.

These extend the reference's surface per the project charter (SURVEY.md
§2.12 / BASELINE.json): the operators a 100 TB LLM-data pipeline needs,
registered with DuckDB oracles wherever the semantics are SQL-expressible.
The MinHash/SimHash LSH paths are registered rows-only (banded hashing is
not portable SQL) — their correctness is pinned by tests/test_dedup.py,
which verifies LSH candidate recall against the exact all-pairs oracle.

Float parity notes: every similarity is computed as a sequential fold in
array order with double arithmetic on both engines, then rounded to 6
decimals, so value-hashes match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators import dedup, similarity, text
from pinterest_data_pipeline_spark.plans.registry import register
from pinterest_data_pipeline_spark.sources.parquet import load_table

# Shared SQL fragments for the oracle side ---------------------------------

_TOKS = "regexp_split_to_array(trim(text), '\\s+')"
_TOKS_LOWER = "regexp_split_to_array(trim(lower(text)), '\\s+')"
_NORM_TEXT = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

# _TRIGRAMS tokenizes coalesce(text, '') — NOT raw text — because the
# engine's word_shingles whole-document fallback gives a NULL text the
# same shingle set as an empty one ({''}); a bare NULL here would feed
# md5(NULL) into concat('0x', ...) = '0x' downstream (DuckDB concat
# SKIPS NULL args) and the BIGINT cast throws. _TOKS itself stays raw:
# other oracles rely on NULL text dropping out via len(NULL) filters.
_TRIG_TOKS = "regexp_split_to_array(trim(coalesce(text, '')), '\\s+')"

_TRIGRAMS = f"""
    CASE WHEN len({_TRIG_TOKS}) >= 3 THEN
        list_distinct(list_transform(range(1, len({_TRIG_TOKS}) - 1),
            i -> {_TRIG_TOKS}[i] || ' ' || {_TRIG_TOKS}[i+1] || ' '
                 || {_TRIG_TOKS}[i+2]))
    ELSE [array_to_string({_TRIG_TOKS}, ' ')] END
"""

# The identical MinHash permutation constants, baked as SQL literals so
# DuckDB runs the same 32 hashes the engine does (seed 42).
_MH_PARAMS_SQL = (
    "["
    + ", ".join(f"[{a}, {b}]" for a, b in dedup.minhash_params(32, 42))
    + "]"
)


def _sw_list(code: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in sorted(text.LANG_STOPWORDS[code])) + "]"


def _hits(code: str) -> str:
    return f"len(list_filter({_TOKS_LOWER}, t -> list_contains({_sw_list(code)}, t)))"


# The DuckDB mirrors of formulas several oracles share, each written once.
# text.linear_quality_margin, as a BIGINT (the expression of
# `quality_linear_gate`, folded):
_QUALITY_MARGIN = r"""CAST(3000 * len(list_filter(
        regexp_split_to_array(lower(trim(text)), '\s+'),
        t -> list_contains(
            ['and','is','of','that','the','to'], t)))
    - 2000 * length(regexp_replace(
        text, '[a-zA-Z0-9_\s]', '', 'g'))
    - 2000 * length(regexp_replace(text, '[^0-9]', '', 'g'))
    - 100 * len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)"""

# text.quality_score, rounded to 6 places, as the column `quality`:
_QUALITY_SCORE = f"""round(0.4 * least((CAST({_hits("en")} AS DOUBLE)
            / greatest(CAST(len({_TOKS}) AS DOUBLE), 1.0)) * 4.0, 1.0)
          + 0.3 * (CASE WHEN CAST(length(text) AS DOUBLE)
                             / greatest(CAST(len({_TOKS}) AS DOUBLE), 1.0)
                             BETWEEN 3.0 AND 12.0
                   THEN 1.0 ELSE 0.0 END)
          + 0.2 * (1.0 - least((CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                                / greatest(length(text), 1)) * 5.0, 1.0))
          + 0.1 * (1.0 - least((CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                                / greatest(length(text), 1)) * 5.0, 1.0)), 6)
        AS quality"""

# The portable MinHash LSH front half over a CTE `sh(doc_id, g)` of
# trigram sets: md5-prefix shingle hashes, the baked permutations, and
# md5 keys of 8 bands of 4 rows, as the CTEs hashed, sig and banded.
_MINHASH_BANDS = f"""hashed AS (
        SELECT doc_id,
               list_transform(g,
                   s -> CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)) AS hs
        FROM sh
    ),
    sig AS (
        SELECT doc_id,
               list_transform({_MH_PARAMS_SQL},
                   p -> list_min(list_transform(hs,
                            h -> (p[1] * h + p[2]) % 4294967311))) AS sig
        FROM hashed
    ),
    banded AS (
        SELECT doc_id, bb.band AS band,
               md5(concat_ws(',', bb.band,
                   sig[bb.band * 4 + 1], sig[bb.band * 4 + 2],
                   sig[bb.band * 4 + 3], sig[bb.band * 4 + 4])) AS key
        FROM sig, (SELECT unnest(range(0, 8)) AS band) bb
    )"""


# ---------------------------------------------------------------- text


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS INTEGER)
               AS n_pieces,
           CAST(length(text) AS INTEGER) AS n_chars_measured,
           round(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                 / greatest(length(text), 1), 6) AS punct_ratio,
           round(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                 / greatest(length(text), 1), 6) AS digit_ratio
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish piece regex) and character-class
    ratios — pure codegen expressions, zero shuffle at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        text.piece_count("text").alias("n_pieces"),
        text.char_len("text").alias("n_chars_measured"),
        F.round(text.punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(text.digit_ratio("text"), 6).alias("digit_ratio"),
    )


@register(
    "text_quality_scores",
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               CAST(len({_TOKS}) AS DOUBLE) AS ntok,
               CAST(length(text) AS DOUBLE) AS nchar,
               CAST({_hits("en")} AS DOUBLE)
                   / greatest(CAST(len({_TOKS}) AS DOUBLE), 1.0) AS sw_ratio,
               CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                   / greatest(length(text), 1) AS p_ratio,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                   / greatest(length(text), 1) AS d_ratio
        FROM documents
    )
    SELECT doc_id,
           round(0.4 * least(sw_ratio * 4.0, 1.0)
                 + 0.3 * (CASE WHEN nchar / greatest(ntok, 1.0) >= 3.0
                               AND nchar / greatest(ntok, 1.0) <= 12.0
                          THEN 1.0 ELSE 0.0 END)
                 + 0.2 * (1.0 - least(p_ratio * 5.0, 1.0))
                 + 0.1 * (1.0 - least(d_ratio * 5.0, 1.0)), 6) AS quality
    FROM base
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality heuristic (stopword/length/punct/digit mix)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", text.quality_score("text").alias("quality"))


@register(
    "text_lang_id",
    oracle=f"""
    WITH hits AS (
        SELECT doc_id,
               {_hits("de")} AS h_de, {_hits("en")} AS h_en,
               {_hits("es")} AS h_es, {_hits("fr")} AS h_fr
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN COALESCE(greatest(h_de, h_en, h_es, h_fr), 0) = 0
                THEN 'und'
                WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM hits
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID; first language (sorted order) wins
    ties. NULL text predicts 'und' like zero-hit text does (the
    oracle's COALESCE keeps its NULL hit counts out of the ELSE 'fr'
    fall-through)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", text.lang_id("text").alias("lang_pred"))


@register(
    "exact_dedup_fingerprint",
    oracle=f"""
    SELECT md5({_NORM_TEXT}) AS fingerprint,
           MIN(doc_id) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def exact_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5-of-normalized-text groups with deterministic
    min-id survivor. One fingerprint shuffle regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(docs, "doc_id", "text")


# ---------------------------------------------------------------- near-dup


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {_TRIGRAMS} AS g FROM documents WHERE doc_id < 150
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                 / greatest(len(a.g) + len(b.g)
                            - len(list_intersect(a.g, b.g)), 1), 6)
               AS jaccard_sim
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
          / greatest(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)), 1)
          >= 0.2
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs ≥ 0.2 on a bounded id slice — the
    oracle-checkable baseline the LSH path is validated against. All-pairs
    by construction: audit/verification use only, never the full corpus."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.2)


@register(
    "ngram_containment_pairs",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {_TRIGRAMS} AS g FROM documents WHERE doc_id < 150
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                 / greatest(CAST(least(len(a.g), len(b.g)) AS DOUBLE), 1),
                 6) AS containment
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
          / greatest(CAST(least(len(a.g), len(b.g)) AS DOUBLE), 1) >= 0.4
    """,
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-CONTAINMENT pairs: |A∩B| / min(|A|,|B|) ≥ 0.4 over 3-gram
    sets on the bounded audit slice. The asymmetric companion to Jaccard
    — a short document fully quoted inside a long one scores ~1.0 here
    but near-0 on Jaccard, which is exactly the quote/wrapper-dedup case
    Jaccard-only pipelines miss. Same all-pairs-on-a-slice audit scope as
    `ngram_jaccard_pairs`; at corpus scale the candidate set comes from
    the banded LSH path first."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    sh = dedup.fan_out(docs).select(
        F.col("doc_id").alias("__id"),
        dedup.word_shingles("text").alias("__sh"),
    )
    a = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "containment", dedup.containment(F.col("sh_a"), F.col("sh_b"))
        )
        .filter(F.col("containment") >= 0.4)
        .select("id_a", "id_b", "containment")
    )


@register(
    "minhash_lsh_near_duplicates",
    # Gate oracle (rows-only → oracle upgrade, round 8): DuckDB replays
    # the PORTABLE twin pipeline (md5-prefix shingle hash, identical
    # baked permutation constants, md5 band keys, exact Jaccard >= 0.5
    # verification — the minhash_dedup_clusters CTE chain) and asserts
    # the xxhash64 PRODUCTION path found every twin-verified pair:
    # n_twin_found_by_xxhash = n_twin_pairs and the found-pair checksum
    # equals the twin-pair checksum. A recall regression in the
    # production path (missed pair) breaks both columns.
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {_TRIGRAMS} AS g FROM documents
    ),
    {_MINHASH_BANDS},
    cand AS (
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
    ),
    verified AS (
        SELECT c.id_a, c.id_b
        FROM cand c JOIN sh a ON a.doc_id = c.id_a
                    JOIN sh b ON b.doc_id = c.id_b
        WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
              / greatest(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)), 1)
              >= 0.5
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_twin_pairs,
           CAST(COUNT(*) AS BIGINT) AS n_twin_found_by_xxhash,
           CAST(SUM(CAST(concat('0x', substr(md5(concat(
                    CAST(id_a AS VARCHAR), ':', CAST(id_b AS VARCHAR))),
                    1, 8)) AS BIGINT)) AS BIGINT) AS twin_found_checksum
    FROM verified
    """,
)
def minhash_lsh_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path: MinHash(32)×8-band LSH candidates verified with exact
    Jaccard ≥ 0.5, under the PRODUCTION hash (xxhash64) — GATE form.

    xxhash64 band keys are Spark-only, so the pair listing itself can't
    be value-hashed by DuckDB (the r1–r7 rows-only rationale). What IS
    checkable: the portable twin's verified-Jaccard pair set (md5-prefix
    hashes, bit-identical in DuckDB) must be CONTAINED in the xxhash64
    path's output — both paths verify candidates with the same exact
    Jaccard ≥ 0.5 filter, so containment is exactly "the production
    banding missed nothing the portable banding surfaced". The gate row
    is (n_twin_pairs, n_twin_found_by_xxhash, twin_found_checksum) where
    the count and the order-independent integer checksum are computed
    over the twin pairs the xxhash path FOUND — a missed pair shrinks
    both, and the oracle's replay of the twin set pins them.

    Scale: two banded (band,key) shuffles (one per hash family) + one
    hit-flagged pair-set left join feeding a single aggregate (no
    scalar cross-join, no re-use of the twin relation — so no
    checkpoint needed)."""
    docs = load_table(spark, sf_dir, "documents")
    xx_pairs = dedup.near_duplicates_minhash(docs, "doc_id", "text").select(
        "id_a", "id_b"
    )
    twin = dedup.near_duplicates_minhash(
        docs, "doc_id", "text", portable=True
    ).select("id_a", "id_b")
    # ONE aggregate over a hit-flagged left join — not two scalar
    # aggregates cross-joined: this query's plan pin asserts zero
    # BroadcastNestedLoopJoin so the bucket-join guarantee stays strict
    # (test_plan_quality.py test_lsh_join_keys_are_band_buckets), and
    # any one-row × one-row combine plans as a BNLJ.
    hit = twin.join(
        xx_pairs.withColumn("__hit", F.lit(1)), ["id_a", "id_b"], "left"
    )
    return hit.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_twin_pairs"),
        F.sum(F.when(F.col("__hit").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_twin_found_by_xxhash"),
        F.sum(
            F.when(
                F.col("__hit").isNotNull(),
                dedup.portable_hash32(
                    F.concat(
                        F.col("id_a").cast("string"),
                        F.lit(":"),
                        F.col("id_b").cast("string"),
                    )
                ),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("twin_found_checksum"),
    )


# Portable-hash SimHash, mirrored exactly in DuckDB: per normalized token
# h = 60-bit md5-prefix int; per doc, bit b of the simhash is the majority
# vote 2*ones(b) > n; 4×16-bit chunks; banding is pigeonhole-complete for
# Hamming ≤ 3, so the engine's banded join provably emits EXACTLY the
# all-pairs distance-≤3 set the oracle computes from first principles.
# Bit masks are Python-generated decimal literals (DuckDB folds `1 << 63`
# eagerly and raises even inside a dead CASE branch; literals side-step
# shifts entirely). Bits 60..63 are constant 0 under the 60-bit hash on
# both engines, so chunk 3 only sums bits 48..59.


def _simhash_chunk_sql(j: int) -> str:
    terms = [
        f"CASE WHEN 2 * len(list_filter(hs, h -> (h & {1 << (j * 16 + b)})"
        f" != 0)) > len(hs) THEN {1 << b} ELSE 0 END"
        for b in range(16)
        if j * 16 + b < 60
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


# WITH RECURSIVE even though this fragment has no recursive CTE itself:
# consumers may append one (near_dup_cluster_size_histogram's reach),
# and the keyword is harmless for non-recursive lists.
_SIMHASH_DOC_SQL = f"""
    WITH RECURSIVE t AS (
        SELECT doc_id,
               list_transform(
                   regexp_split_to_array({_NORM_TEXT}, '\\s+'),
                   tok -> CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT)
               ) AS hs
        FROM documents
    ),
    s AS (
        SELECT doc_id,
               [{_simhash_chunk_sql(0)}, {_simhash_chunk_sql(1)},
                {_simhash_chunk_sql(2)}, {_simhash_chunk_sql(3)}] AS ch
        FROM t
    )
"""

_SIMHASH_HAMMING_SQL = """
    (bit_count(xor(a.ch[1], b.ch[1])) + bit_count(xor(a.ch[2], b.ch[2]))
     + bit_count(xor(a.ch[3], b.ch[3])) + bit_count(xor(a.ch[4], b.ch[4])))
"""


@register(
    "simhash_near_pairs",
    oracle=f"""
    {_SIMHASH_DOC_SQL}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST({_SIMHASH_HAMMING_SQL} AS INTEGER) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE {_SIMHASH_HAMMING_SQL} <= 3
    """,
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3) via 16-bit chunk bands.

    Registered in portable-hash mode (md5-prefix token hash) so the
    DuckDB oracle recomputes the identical simhash and verifies the FULL
    pair set — banding recall is 1 for Hamming ≤ 3 by pigeonhole, so
    engine output == oracle's all-pairs set, not a sampled subset. The
    production path keeps xxhash64 (``portable=False`` default)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(
        docs, "doc_id", "text", portable=True
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------- embeddings

def _cos_sql(a: str, b: str) -> str:
    """Cosine SQL between ``a.embedding`` and ``b.embedding`` — same op
    order as operators.similarity.cosine (sequential fold, double math,
    round 6) so values hash-match."""
    return f"""
    round(list_sum(list_transform(range(1, 65),
              i -> CAST({a}.embedding[i] AS DOUBLE) * CAST({b}.embedding[i] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(range(1, 65),
                 i -> CAST({a}.embedding[i] AS DOUBLE) * CAST({a}.embedding[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, 65),
                 i -> CAST({b}.embedding[i] AS DOUBLE) * CAST({b}.embedding[i] AS DOUBLE)))))
          , 6)
    """


@register(
    "embedding_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_cos_sql('q', 'c')} AS score
        FROM q, embeddings c
        WHERE c.vec_id != q.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY score DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, score, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 10
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 query vectors: broadcast queries,
    one corpus scan, ranking window per query."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.cosine_topk(emb, queries, k=10)


@register(
    "embedding_ivf_topk",
    oracle=f"""
    WITH q AS (SELECT * FROM embeddings WHERE vec_id < 5),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_cos_sql('q', 'c')} AS score
        FROM q JOIN embeddings c
          ON c.label = q.label AND c.vec_id != q.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY score DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, score, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 10
    """,
)
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-10: probe only the query's coarse
    partition (the ``label`` cluster), cutting compared rows by the
    partition fan-out."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.ivf_topk(emb, queries, k=10)


@register(
    "embedding_near_dup_pairs",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos_sql('a', 'b')} AS score
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_cos_sql('a', 'b')} >= 0.4
    """,
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within coarse partitions
    (the scale path: same-cluster candidates only — near-dups land in the
    same partition by construction; the unpartitioned all-pairs variant
    exists for bounded audits). ``n_blocks=8`` spreads each cell's pair
    triangle over 36 join keys — output-identical to the plain
    within-cell join (so the oracle is unchanged) but a hot cell runs as
    36 tasks instead of one straggler."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_duplicates(
        emb, threshold=0.4, partition_col="label", n_blocks=8, scorer="numpy"
    )


# ---------------------------------------------------------------- multimodal


@register(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id AS asset_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS size_bytes,
           md5(text) AS content_md5,
           CAST((doc_id * 37) % 1920 + 1 AS INTEGER) AS width,
           CAST((doc_id * 53) % 1080 + 1 AS INTEGER) AS height,
           CAST((doc_id * 7) % 600 AS DOUBLE) AS duration_s
    FROM documents
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata plane over opaque binary payloads: size/hash/typed meta,
    no decode, no Python — the 'filter before you decode' scale pattern."""
    from pinterest_data_pipeline_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.binary_metadata(multimodal.attach_binary_payload(docs))


@register("multimodal_decode_features")  # mapInPandas stub: rows-only check
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction via mapInPandas (decode stubbed —
    deterministic md5-derived features; see operators/multimodal.py)."""
    from pinterest_data_pipeline_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    feats = multimodal.decode_image_features(
        multimodal.attach_binary_payload(docs)
    )
    # array → '|'-joined string: registered outputs must stay hashable
    # by the driver comparator (no list cells)
    return feats.withColumn(
        "features",
        F.array_join(
            F.transform(F.col("features"), lambda x: x.cast("string")), "|"
        ),
    )


@register(
    "multimodal_raw_decode_features",
    oracle="""
    WITH px AS (
        SELECT doc_id AS asset_id,
               list_transform(range(1, 257), i ->
                   CASE WHEN i <= length(text)
                        THEN CAST(ascii(substr(text, i, 1)) AS BIGINT)
                        ELSE 0 END) AS v
        FROM documents
        WHERE text IS NOT NULL
    )
    SELECT asset_id,
           CAST(16 AS INTEGER) AS width,
           CAST(16 AS INTEGER) AS height,
           CAST(list_sum(v) AS BIGINT) AS sum_px,
           CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT)
               AS sum_sq_px,
           array_to_string(list_transform(range(0, 16), b ->
               list_sum(list_transform(range(0, 16), k ->
                   v[((b // 4) * 4 + (k // 4)) * 16
                     + ((b % 4) * 4 + (k % 4)) + 1]))), '|') AS thumb_sums
    FROM px
    """,
)
def multimodal_raw_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL raw-bitmap decode (no codec needed): payload bytes read as
    16×16 grayscale, numpy mean/std + 4×4 block-mean thumbnail over
    Arrow batches. Bit-exactness vs a driver-side numpy recompute is
    pinned by tests/test_corpus_hygiene.py::
    test_raw_bitmap_decode_matches_numpy_recompute."""
    from pinterest_data_pipeline_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    feats = multimodal.decode_raw_bitmap_features(
        multimodal.attach_binary_payload(docs)
    )
    # Oracle-portable output: EXACT integer statistics. Byte sums (and
    # squared-byte sums) are exact in int64/float64 under ANY summation
    # order, so numpy's pairwise reduction and DuckDB's sequential fold
    # agree bit-for-bit with no rounding anywhere — float means hit
    # round-half boundaries (0.3703125 rounds differently under HALF_UP
    # vs half-to-even) and double→string rendering differs between
    # engines. mean = sum_px/(255·256), var = the usual moments — any
    # consumer derives the float stats; the cross-engine CONTRACT is
    # integer-exact.
    return feats.select(
        "asset_id",
        "width",
        "height",
        "sum_px",
        "sum_sq_px",
        F.array_join(
            F.transform(F.col("thumb_sums"), lambda x: x.cast("string")),
            "|",
        ).alias("thumb_sums"),
    )


@register(
    "multimodal_frame_offsets",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST((doc_id * 7) % 600 AS DOUBLE) AS duration_s,
           array_to_string(list_transform(range(0, 4),
               i -> CAST(CAST(i AS DOUBLE)
                         * CAST((doc_id * 7) % 600 AS DOUBLE)
                         * 1000.0 / 4.0 AS BIGINT)), '|') AS frame_offsets_ms
    FROM documents WHERE doc_id % 3 = 2
    """,
)
def multimodal_frame_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic frame-sampling offsets for video payloads.

    The offsets are emitted as a '|'-joined millisecond string, not an
    array column: the driver comparator value-hashes pandas frames and
    can't hash Python lists (the round-2 TypeError), and integer ms need
    no float formatting pinning. duration is integer-valued so i*dur*250
    is exact in double math — both engines render identical digits."""
    from pinterest_data_pipeline_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    offsets = multimodal.frame_sample_offsets(
        multimodal.attach_binary_payload(docs)
    )
    return offsets.select(
        "asset_id",
        "duration_s",
        F.array_join(
            F.transform(
                F.col("frame_offsets_s"),
                lambda s: (s * F.lit(1000.0)).cast("long").cast("string"),
            ),
            "|",
        ).alias("frame_offsets_ms"),
    )


# ------------------------------------------------------- composite pipeline


@register(
    "corpus_curation_basic",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               {_QUALITY_SCORE},
               md5({_NORM_TEXT}) AS fingerprint
        FROM documents
    ),
    survivors AS (
        SELECT fingerprint, MIN(doc_id) AS doc_id
        FROM scored WHERE quality >= 0.5 GROUP BY fingerprint
    )
    SELECT s.doc_id, sc.quality
    FROM survivors s JOIN scored sc ON s.doc_id = sc.doc_id
    """,
)
def corpus_curation_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite curation pipeline: quality-filter the corpus, then keep
    one document per exact-duplicate group (min-id survivor). The shape a
    production corpus build runs before the near-dup pass — one scan +
    one fingerprint shuffle, no joins against raw data."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        text.quality_score("text").alias("quality"),
        text.fingerprint_md5("text").alias("fingerprint"),
    )
    survivors = (
        scored.filter(F.col("quality") >= 0.5)
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return survivors.join(scored.select("doc_id", "quality"), "doc_id").select(
        "doc_id", "quality"
    )


@register(
    "minhash_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE sh AS (
        SELECT doc_id, {_TRIGRAMS} AS g FROM documents
    ),
    {_MINHASH_BANDS},
    cand AS (
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
    ),
    verified AS (
        SELECT c.id_a, c.id_b
        FROM cand c JOIN sh a ON a.doc_id = c.id_a
                    JOIN sh b ON b.doc_id = c.id_b
        WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
              / greatest(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)), 1)
              >= 0.5
    ),
    und AS (
        SELECT id_a AS s, id_b AS t FROM verified
        UNION SELECT id_b, id_a FROM verified
    ),
    reach(node, r) AS (
        SELECT s, s FROM und
        UNION
        SELECT u.t, reach.r FROM reach JOIN und u ON u.s = reach.node
    )
    SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
    """,
)
def minhash_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components → (doc_id, cluster_id)
    canonical assignment. The full dedup story: LSH candidates, exact
    verification, then cluster formation so each duplicate group keeps
    exactly one canonical document.

    Registered in portable-hash mode: DuckDB recomputes the identical
    MinHash signatures (md5-prefix shingle hash, same baked (a,b)
    constants, md5 band keys), the identical verified-pair edge set, and
    the connected components via recursive CTE — end-to-end parity for
    an iterative graph algorithm, not a rows-only count."""
    from pinterest_data_pipeline_spark.operators.clustering import duplicate_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.near_duplicates_minhash(
        docs, "doc_id", "text", portable=True
    )
    # iterations bounds hop count; min-label propagation early-stops at
    # the fixpoint, so a generous bound costs nothing once converged
    return duplicate_clusters(pairs).orderBy("doc_id")


@register(
    "ivf_kmeans_codebook_assign",
    # Gate-style oracle (round 5, upgrading the r4 rows-only check; same
    # pattern as hll_sketch_union_gate): the k-means training itself is
    # iterative and engine-side, but its INVARIANTS are exact — every
    # vector assigned (count replayed by DuckDB), clusters in range, and
    # Lloyd monotonicity (the trained codebook's assignment objective
    # never exceeds the first-k-init codebook's). The objective uses the
    # affinity form (squared distance minus the codebook-independent
    # Σ‖v‖²), so the comparison is offset-exact.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(8 AS BIGINT) AS k_clusters,
           CAST(0 AS BIGINT) AS objective_violations,
           CAST(0 AS BIGINT) AS range_violations
    FROM embeddings
    """,
)
def ivf_kmeans_codebook_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a deterministic k-means codebook (3 fixed Lloyd iterations,
    first-k init) and assign every embedding to its coarse cell — the
    partition builder behind the IVF search path (embedding_ivf_topk
    uses the pre-existing label column; this builds such a partitioning
    from scratch). Output is `clustering.codebook_gate`'s row plus the
    codebook size: vector coverage, Lloyd objective monotonicity
    (J_final ≤ J_init) and cluster-id range — each either replayed
    exactly by DuckDB or pinned to 0 violations. Per-cluster assignment
    behavior stays pinned by tests/test_dedup_similarity.py.

    Scale: training runs once (init and trained codebooks come from the
    same pass); each Lloyd iteration is one scan of the checkpointed
    (id, vector) columns with a map-side partial centroid-sum shuffle,
    and the audit is one aggregate."""
    from pinterest_data_pipeline_spark.operators.clustering import codebook_gate
    from pinterest_data_pipeline_spark.operators.parallel import fan_out

    emb = load_table(spark, sf_dir, "embeddings")
    work = fan_out(emb).select("vec_id", "embedding").localCheckpoint(eager=False)
    return codebook_gate(work, ["embedding"], "vec_id", 8, 3).select(
        "n_vectors",
        F.lit(8).cast("bigint").alias("k_clusters"),
        "objective_violations",
        "range_violations",
    )


# The identical seed-7 hyperplanes baked as SQL literals (repr round-trips
# doubles exactly, so DuckDB parses bit-identical plane components), and
# the projections use the same list_sum/list_transform fold _cos_sql
# already hash-matches — which makes even banded VECTOR LSH portable.
_PLANES_SQL = (
    "["
    + ", ".join(
        "[" + ", ".join(repr(x) for x in plane) + "]"
        for plane in similarity._hyperplanes(64, 32, 7)
    )
    + "]"
)


@register(
    "embedding_lsh_near_duplicates",
    oracle=f"""
    WITH planes AS (
        SELECT i AS pidx, {_PLANES_SQL}[i] AS p
        FROM (SELECT unnest(range(1, 33)) AS i)
    ),
    proj AS (
        SELECT e.vec_id,
               CAST((pl.pidx - 1) // 8 AS BIGINT) AS band,
               CAST((pl.pidx - 1) % 8 AS BIGINT) AS bit,
               list_sum(list_transform(range(1, 65), j ->
                   CAST(e.embedding[j] AS DOUBLE) * pl.p[j])) AS pr
        FROM embeddings e, planes pl
    ),
    keys AS (
        SELECT vec_id, band,
               SUM(CASE WHEN pr >= 0 THEN (1 << bit) ELSE 0 END) AS key
        FROM proj GROUP BY vec_id, band
    ),
    cand AS (
        SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
        FROM keys l JOIN keys r
          ON l.band = r.band AND l.key = r.key AND l.vec_id < r.vec_id
    )
    SELECT DISTINCT c.id_a, c.id_b, {_cos_sql('a', 'b')} AS score
    FROM cand c JOIN embeddings a ON a.vec_id = c.id_a
                JOIN embeddings b ON b.vec_id = c.id_b
    WHERE {_cos_sql('a', 'b')} >= 0.4
    ORDER BY id_a, id_b
    """,
)
def embedding_lsh_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector analog of MinHash LSH: banded random-hyperplane buckets +
    exact cosine verification (threshold 0.4 here so the corpus — whose
    max pairwise cosine is ~0.51 — yields a checkable non-empty result;
    production near-dup thresholds of 0.95+ sit where the s-curve's
    recall ≈ 1, see tests/test_dedup_similarity.py planted-clone test)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_near_duplicates(emb, threshold=0.4).orderBy(
        "id_a", "id_b"
    )


@register(
    "semantic_dedup_survivors",
    # Gate-style oracle (round 7, upgrading the r4/r6 rows-only check;
    # the ivf_kmeans_codebook_assign pattern): the iterative k-means +
    # per-cell LSH stay engine-side, but the gate row's exact invariants
    # are each either replayed by DuckDB from the input (n_total,
    # id_sum_total, the pure-integer auto-k formula) or pinned to zero
    # violations (survivors+removed must partition the corpus in both
    # count and id-checksum, cluster ids in [0, k), pair orientation
    # id_a < id_b, global-min id never removed).
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(vec_id) AS BIGINT) AS id_sum_total,
           CAST(GREATEST(8, LEAST(32, COUNT(*) // 600)) AS BIGINT)
               AS k_cells,
           CAST(0 AS BIGINT) AS conservation_violations,
           CAST(0 AS BIGINT) AS range_violations,
           CAST(0 AS BIGINT) AS witness_violations,
           CAST(0 AS BIGINT) AS min_id_removed_violations
    FROM embeddings
    """,
)
def semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: k-means cells bound the pair search,
    cosine ≥ threshold within a cell marks duplicates, min-id survives
    (operators/semantic_dedup.py). Runs the BOUNDED configuration the
    100 TB design requires: the codebook auto-scales with the corpus but
    caps at ``max_k=32`` (a codebook that grows ∝ n is infeasible
    broadcast metadata at scale), and once cells outgrow the all-pairs
    cap the within-cell search switches to per-cell hyperplane LSH
    (``within_cell='auto'``). Threshold 0.97 per the SemDeDup recipe —
    exact/near-exact clones collide in every LSH band, so the scale path
    keeps recall ≈ 1 on true duplicates. Output is the one-row gate
    (operators/semantic_dedup.semantic_dedup_gate): conservation of the
    survivor/removed partition in count AND id-checksum, cluster-range,
    pair-orientation, and min-id-survival invariants, driver-hash-checked
    against the DuckDB replay. The survivor relation itself stays pinned
    by tests/test_dedup_similarity.py."""
    from pinterest_data_pipeline_spark.operators.semantic_dedup import (
        semantic_dedup_gate,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_gate(emb, k=None, threshold=0.97, max_k=32)


@register(
    "text_top_pieces",
    oracle="""
    WITH pieces AS (
        SELECT t.piece
        FROM documents,
             UNNEST(regexp_extract_all(lower(text), '\\w+|[^\\w\\s]')) AS t(piece)
    ),
    counts AS (
        SELECT piece, CAST(COUNT(*) AS BIGINT) AS n FROM pieces GROUP BY 1
    )
    SELECT piece, n FROM counts ORDER BY n DESC, piece ASC LIMIT 20
    """,
)
def text_top_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: explode BPE-ish pieces, count, top-20.
    The explode → partial-agg → TakeOrdered shape is the canonical
    'token frequency table' pipeline at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(
                # idx=0 = whole match (the default idx=1 asserts a capture
                # group exists and throws on group-free patterns)
                F.regexp_extract_all(F.lower("text"), F.lit(text.TOKEN_PIECE_RE), 0)
            ).alias("piece")
        )
        .groupBy("piece")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("piece"))
        .limit(20)
    )


@register(
    "corpus_curation_full",
    oracle=f"""
    WITH RECURSIVE scored AS (
        SELECT doc_id, text,
               {_QUALITY_SCORE},
               md5({_NORM_TEXT}) AS fingerprint
        FROM documents
    ),
    surv AS (
        SELECT MIN(doc_id) AS doc_id
        FROM scored WHERE quality >= 0.5 GROUP BY fingerprint
    ),
    sdocs AS (
        SELECT sc.doc_id, sc.text FROM surv s JOIN scored sc USING (doc_id)
    ),
    sh AS (SELECT doc_id, {_TRIGRAMS} AS g FROM sdocs),
    {_MINHASH_BANDS},
    cand AS (
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
    ),
    verified AS (
        SELECT c.id_a, c.id_b
        FROM cand c JOIN sh a ON a.doc_id = c.id_a
                    JOIN sh b ON b.doc_id = c.id_b
        WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
              / greatest(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)), 1)
              >= 0.5
    ),
    und AS (
        SELECT id_a AS s, id_b AS t FROM verified
        UNION SELECT id_b, id_a FROM verified
    ),
    reach(node, r) AS (
        SELECT s, s FROM und
        UNION
        SELECT u.t, reach.r FROM reach JOIN und u ON u.s = reach.node
    ),
    noncanon AS (
        SELECT node AS doc_id FROM (
            SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node
        ) WHERE cluster_id <> node
    )
    SELECT stage, CAST(n_docs AS BIGINT) AS n_docs FROM (
        SELECT 'input' AS stage, (SELECT COUNT(*) FROM scored) AS n_docs
        UNION ALL
        SELECT 'quality_pass', (SELECT COUNT(*) FROM scored WHERE quality >= 0.5)
        UNION ALL
        SELECT 'exact_dedup', (SELECT COUNT(*) FROM surv)
        UNION ALL
        SELECT 'near_dedup_final',
               (SELECT COUNT(*) FROM surv
                WHERE doc_id NOT IN (SELECT doc_id FROM noncanon))
    )
    """,
)
def corpus_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete curation pipeline a training-data build runs:

    1. quality-score filter (drop low-quality docs),
    2. exact dedup (md5 fingerprint, min-id survivor),
    3. near-dup LSH clustering (MinHash bands → verified pairs →
       connected components), keeping each cluster's canonical doc.

    Returns per-stage survivor counts plus the final corpus size — the
    numbers a curation run reports. Each stage is one scan + one bounded
    shuffle; nothing is quadratic in the corpus. (The wider composition —
    repetition filter, PII-redacted fingerprints, chunking of survivors —
    is exercised by tests/test_chunking_sampling.py::
    test_extended_curation_composition; each of those stages also has its
    own oracle-backed query, so the funnel here stays the stable
    cross-round benchmark shape.)"""
    from pinterest_data_pipeline_spark.operators.clustering import duplicate_clusters

    docs = load_table(spark, sf_dir, "documents")
    # Funnel counts are separate actions over overlapping lineage, so the
    # shared stages are persisted once: scoring/fingerprinting runs ONE scan
    # (n_total + n_quality fold into a single aggregate over it) and the
    # exact-dedup survivor set feeds its own count, the LSH input, and the
    # final anti-join without recomputation. At 100 TB, re-running quality
    # scoring and MinHash per reported count would dominate the pipeline.
    # fan_out: the driver fixture stores documents as ONE row group, so
    # without it the regex-heavy scoring projection runs as a single task
    # (measured 5.6 s single-threaded vs sub-second fanned at sf0.1).
    scored = dedup.fan_out(docs).select(
        "doc_id",
        "text",
        text.quality_score("text").alias("quality"),
        text.fingerprint_md5("text").alias("fingerprint"),
    ).persist()
    # n_exact rides on the SAME aggregate job as the input/quality
    # counts: the exact-dedup survivor count is one row per distinct
    # fingerprint among quality-passing docs, i.e. count_distinct of
    # the fingerprints the when() keeps — one driver action instead of
    # a separate count() over the survivor relation (guide §2.4; the
    # relation itself is still built and persisted below, where the
    # LSH input and the final anti-join genuinely need it). NULL text is
    # the only source of a NULL fingerprint, and NULL text scores at most
    # 0.4, below the 0.5 gate: count_distinct never drops a NULL
    # fingerprint group that the groupBy below (and the oracle's GROUP BY
    # fingerprint) would count.
    totals = scored.agg(
        F.count("*").alias("n_total"),
        F.count(F.when(F.col("quality") >= 0.5, True)).alias("n_quality"),
        F.count_distinct(
            F.when(F.col("quality") >= 0.5, F.col("fingerprint"))
        ).alias("n_exact"),
    ).collect()[0]
    quality_pass = scored.filter(F.col("quality") >= 0.5)
    exact_survivors = (
        quality_pass.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    ).select("doc_id").persist()
    n_exact = totals["n_exact"]

    surviving_docs = scored.select("doc_id", "text").join(
        exact_survivors, "doc_id", "semi"
    )
    # portable=True: the md5-prefix hash lets the DuckDB oracle recompute
    # the IDENTICAL signatures/bands/verified pairs, so the whole funnel
    # — scoring, exact dedup, LSH clustering, final counts — is value-
    # verified end-to-end. Production callers keep the operator default
    # (xxhash64); the delta is the cost of a cross-engine gate (PERF.md).
    pairs = dedup.near_duplicates_minhash(
        surviving_docs, "doc_id", "text", portable=True
    )
    clusters = duplicate_clusters(pairs)
    # drop non-canonical cluster members (cluster_id == canonical doc_id)
    non_canonical = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    final = exact_survivors.join(non_canonical, "doc_id", "anti")

    n_total = totals["n_total"]
    n_quality = totals["n_quality"]
    n_final = final.count()
    scored.unpersist()
    exact_survivors.unpersist()
    return spark.createDataFrame(
        [
            ("input", n_total),
            ("quality_pass", n_quality),
            ("exact_dedup", n_exact),
            ("near_dedup_final", n_final),
        ],
        "stage string, n_docs long",
    )


# ---------------------------------------------------------------- chunk/sample


@register(
    "chunk_documents_tokens",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS t
        FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               CAST(g.s // 48 AS INTEGER) AS chunk_id,
               list_slice(t, g.s + 1, g.s + 64) AS ct
        FROM toks,
             UNNEST(generate_series(0, greatest(len(t) - 1, 0), 48)) AS g(s)
    )
    SELECT doc_id, chunk_id, CAST(len(ct) AS INTEGER) AS n_tokens,
           array_to_string(ct, ' ') AS chunk_text
    FROM chunks WHERE len(ct) > 0
    """,
)
def chunk_documents_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunking: 64-token windows with 16-token overlap
    (operators/chunking.py) — pure expression pipeline, no shuffle, no
    UDF; the oracle reproduces the window arithmetic with
    generate_series + list_slice."""
    from pinterest_data_pipeline_spark.operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_size=64, overlap=16)


@register(
    "stratified_sample_per_lang",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, lang,
               CAST(row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS INTEGER) AS sample_rank
        FROM documents
    )
    SELECT doc_id, lang, sample_rank FROM ranked WHERE sample_rank <= 20
    """,
)
def stratified_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly min(20, stratum) docs
    per language, ordered by md5(doc_id) — uniform pseudo-random yet
    identical across engines/retries (operators/sampling.py). The window
    top-k compiles to WindowGroupLimit, so the shuffle carries ~k rows
    per stratum, not the corpus."""
    from pinterest_data_pipeline_spark.operators.sampling import (
        stratified_sample_exact,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample_exact(docs, "lang", "doc_id", 20)


@register(
    "mixture_upsample_by_lang",
    oracle="""
    WITH w(lang, wt) AS (VALUES ('zh', 3), ('es', 2), ('de', 0)),
    j AS (
        SELECT d.doc_id, d.lang, coalesce(w.wt, 1) AS wt
        FROM documents d LEFT JOIN w ON d.lang = w.lang
    )
    SELECT doc_id, lang, CAST(g.c AS INTEGER) AS copy_id
    FROM j, UNNEST(generate_series(1, wt)) AS g(c)
    """,
)
def mixture_upsample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture lever: integer epochs per source (zh 3x, es 2x,
    de dropped, everything else 1x) via broadcast weight join + exploded
    sequence (operators/sampling.py) — replication happens executor-side
    in the explode, never as N unioned scans."""
    from pinterest_data_pipeline_spark.operators.sampling import repeat_by_weight

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return repeat_by_weight(docs, "lang", {"zh": 3, "es": 2, "de": 0})


@register(
    "embedding_quantize_error_bound",
    oracle="""
    WITH q AS (
        SELECT vec_id,
               list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        FROM embeddings
    ),
    err AS (
        SELECT e.vec_id, q.scale,
               CASE WHEN q.scale = 0 THEN 0.0 ELSE
                   list_max(list_transform(e.embedding,
                       x -> abs(round(CAST(x AS DOUBLE) / q.scale) * q.scale
                                - CAST(x AS DOUBLE))))
               END AS max_err
        FROM embeddings e JOIN q USING (vec_id)
    )
    SELECT vec_id, round(scale, 6) AS scale_r6,
           (max_err <= scale * 0.5 * 1.000000001) AS within_half_step
    FROM err
    """,
)
def embedding_quantize_error_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization accuracy gate (operators/similarity.quantize_int8):
    reconstructing each vector from (q, scale) must stay within half a
    quantization step per element. Output is scalar-only (scale + bound
    boolean) so the value-hash comparator can digest it; the q arrays
    themselves are pinned by tests/test_dedup_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    qz = emb.select(
        "vec_id",
        "embedding",
        similarity.quantize_int8(F.col("embedding")).alias("qz"),
    )
    recon_err = F.array_max(
        F.zip_with(
            similarity.dequantize_int8(F.col("qz.q"), F.col("qz.scale")),
            F.col("embedding"),
            lambda r, v: F.abs(r - v.cast("double")),
        )
    )
    return qz.select(
        "vec_id",
        F.round(F.col("qz.scale"), 6).alias("scale_r6"),
        F.when(F.col("qz.scale") == 0.0, F.lit(True))
        .otherwise(recon_err <= F.col("qz.scale") * 0.5 * 1.000000001)
        .alias("within_half_step"),
    )


@register(
    "embedding_ivf_multiprobe_topk",
    # Gate-style oracle (round 5, upgrading the r4 rows-only check): the
    # k-means codebook is trained iteratively in-engine, so DuckDB
    # cannot replay the probe routing — but it CAN replay the exact
    # brute-force top-1 per query (the same _cos_sql fold every
    # similarity oracle hash-matches), and the multiprobe INVARIANTS are
    # exact: nprobe = |codebook| ≡ brute force rank-for-rank, and recall
    # vs the exact top-10 is monotone in nprobe (probe sets are nested
    # nearest-first, and topk(C) ∩ topk(universe) = C ∩ topk(universe)).
    oracle=f"""
    WITH q AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_cos_sql('q', 'c')} AS score
        FROM q, embeddings c
        WHERE c.vec_id != q.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY score DESC, neighbor_id ASC) AS rn
        FROM scored
    )
    SELECT query_id,
           neighbor_id AS bf_top1_id,
           score AS bf_top1_score,
           CAST(0 AS BIGINT) AS full_probe_mismatches,
           CAST(0 AS BIGINT) AS recall_monotone_violations
    FROM ranked WHERE rn = 1
    """,
)
def embedding_ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ANN with multiprobe (operators/similarity.ivf_topk_multiprobe):
    each query probes its nearest codebook partitions instead of one —
    the recall/cost dial between single-probe IVF and brute force.

    Driver gate row per query: the exact brute-force top-1 neighbor and
    score (DuckDB replays these), a rank-for-rank equality check of
    nprobe=8 (= full codebook) against brute force, and a recall
    monotonicity check across nprobe ∈ (2, 4, 8) — both pinned to 0
    violations. The nprobe=2 production dial is exercised inside the
    recall chain; its standalone behavior stays pinned by
    tests/test_dedup_similarity.py.

    Scale: only the 10-row query side is probe-exploded and broadcast;
    the corpus keeps one partition label per row, so each variant scans
    ~nprobe/8 of the corpus (nprobe=8 is the audit-sized full sweep)."""
    from pinterest_data_pipeline_spark.operators.clustering import kmeans_codebook

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = kmeans_codebook(emb, k=8, iterations=2)
    queries = emb.filter(F.col("vec_id") < 10)
    # Reuse, not recompute (r12 optimization): the brute-force ranking
    # feeds FIVE consumers below (bf_r, three overlap joins, top1) and
    # the IVF-assigned corpus feeds all three nprobe settings — without
    # the two checkpoints each consumer re-ran the whole upstream
    # subtree (measured: 38 scans / 80 exchanges in one plan; the
    # corpus argmin+norm scan ran 3x and the crossJoin ranking 5x).
    # The assignment IS the IVF index — building it once is the
    # production shape at any scale; both relations are
    # corpus-row-bounded (the ranking is 10 queries x k rows).
    bf = similarity.cosine_topk(emb, queries, k=10).localCheckpoint(
        eager=False
    )
    c_prep = similarity.multiprobe_corpus(emb, centroids).localCheckpoint(
        eager=False
    )
    probes = {
        n: similarity.ivf_topk_multiprobe(
            emb, queries, centroids, k=10, nprobe=n, corpus_assigned=c_prep
        )
        for n in (2, 4, 8)
    }
    # nprobe=8 must reproduce brute force rank-for-rank (same rounding,
    # same (score DESC, neighbor_id ASC) tie-break): full-outer join on
    # (query_id, rank) so missing ranks count as mismatches too.
    bf_r = bf.select("query_id", "rank", F.col("neighbor_id").alias("bf_id"))
    mp8_r = probes[8].select(
        "query_id", "rank", F.col("neighbor_id").alias("mp_id")
    )
    mismatches = (
        bf_r.join(mp8_r, ["query_id", "rank"], "full_outer")
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(
                    F.col("bf_id").isNull()
                    | F.col("mp_id").isNull()
                    | (F.col("bf_id") != F.col("mp_id")),
                    1,
                ).otherwise(0)
            ).alias("full_probe_mismatches")
        )
    )
    # recall_n = |topk(nprobe=n) ∩ bf_top10| per query, via inner join
    # on (query_id, neighbor_id); left-join keeps zero-overlap queries.
    bf_ids = bf.select("query_id", "neighbor_id")

    def overlap(n: int, alias: str):
        return (
            probes[n]
            .select("query_id", "neighbor_id")
            .join(bf_ids, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count("*").alias(alias))
        )

    qids = queries.select(F.col("vec_id").alias("query_id"))
    recalls = (
        qids.join(overlap(2, "r2"), "query_id", "left")
        .join(overlap(4, "r4"), "query_id", "left")
        .join(overlap(8, "r8"), "query_id", "left")
        .na.fill(0, ["r2", "r4", "r8"])
    )
    top1 = bf.filter(F.col("rank") == 1).select(
        "query_id",
        F.col("neighbor_id").alias("bf_top1_id"),
        F.col("score").alias("bf_top1_score"),
    )
    return (
        top1.join(mismatches, "query_id", "left")
        .join(recalls, "query_id", "left")
        .select(
            "query_id",
            "bf_top1_id",
            "bf_top1_score",
            F.coalesce(F.col("full_probe_mismatches"), F.lit(0))
            .cast("bigint")
            .alias("full_probe_mismatches"),
            F.when(
                (F.col("r2") > F.col("r4")) | (F.col("r4") > F.col("r8")), 1
            )
            .otherwise(0)
            .cast("bigint")
            .alias("recall_monotone_violations"),
        )
    )


@register(
    "udtf_split_sentences",
    oracle="""
    WITH split AS (
        SELECT doc_id, string_split_regex(text, '[.!?]+') AS parts
        FROM documents
    ),
    numbered AS (
        SELECT doc_id,
               trim(parts[CAST(g.i AS INTEGER)], ' \t\n\r\f\v') AS sentence,
               g.i AS pos
        FROM split, UNNEST(range(1, len(parts) + 1)) AS g(i)
    ),
    kept AS (
        SELECT doc_id, sentence,
               CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1
                    AS INTEGER) AS sentence_id
        FROM numbered WHERE sentence <> ''
    )
    SELECT doc_id, sentence_id, sentence,
           CAST(len(list_filter(string_split_regex(sentence, '\\s+'),
                                x -> x <> '')) AS INTEGER) AS n_tokens
    FROM kept
    """,
)
def udtf_split_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 extension: Python UDTF (Spark 4) fanning each document out
    to one row per sentence via a LATERAL join
    (operators/udtf_ops.SplitSentences). Deliberately also SQL-expressible
    so the UDTF plumbing itself gets a value-hash check."""
    from pinterest_data_pipeline_spark.operators.udtf_ops import SplitSentences

    spark.udtf.register("split_sentences", SplitSentences)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("__docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, s.sentence_id, s.sentence, s.n_tokens
        FROM __docs_udtf d, LATERAL split_sentences(d.text) s
        """
    )


@register(
    "pii_redaction_counts",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER)
               AS n_emails,
           CAST(len(regexp_extract_all(text,
               '\\+?[0-9][0-9() -]{6,}[0-9]')) AS INTEGER) AS n_phones,
           CAST(length(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]',
               'g'), '\\+?[0-9][0-9() -]{6,}[0-9]', '[PHONE]', 'g'))
               AS INTEGER) AS redacted_len
    FROM documents
    """,
)
def pii_redaction_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-signal extension: PII detection + redaction
    (operators/text.redact_pii) — emails and phone-shaped digit runs are
    masked scan-side; the query emits the audit counts plus the redacted
    length so the full redaction expression is value-hash checked."""
    docs = load_table(spark, sf_dir, "documents")
    n_emails, n_phones = text.pii_counts("text")
    return docs.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        F.length(text.redact_pii("text")).alias("redacted_len"),
    )


@register(
    "repetition_signals",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x <> '') AS t
        FROM documents
    ),
    tri AS (
        SELECT doc_id, len(t) AS n,
               CASE WHEN len(t) >= 3 THEN
                   list_transform(range(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
               ELSE [] END AS grams
        FROM toks
    ),
    tri_sig AS (
        SELECT doc_id, n,
               CASE WHEN len(grams) > 0 THEN
                   round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                         / len(grams), 6)
               ELSE 0.0 END AS dup_trigram_frac
        FROM tri
    ),
    words AS (
        SELECT doc_id, g.w AS word FROM toks, UNNEST(t) AS g(w)
    ),
    word_counts AS (
        SELECT doc_id, word, COUNT(*) AS c FROM words GROUP BY 1, 2
    ),
    top_word AS (
        SELECT doc_id, c,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY c DESC, word ASC) AS rn
        FROM word_counts
    )
    SELECT s.doc_id, s.dup_trigram_frac,
           round(CAST(coalesce(tw.c, 0) AS DOUBLE)
                 / greatest(s.n, 1), 6) AS top_word_frac
    FROM tri_sig s LEFT JOIN (SELECT doc_id, c FROM top_word WHERE rn = 1) tw
      USING (doc_id)
    """,
)
def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: fraction of
    duplicate word trigrams and the most-frequent-word share. Trigram
    dedup is a per-row HOF expression (zero shuffle); the top-word share
    is one explode + partial-agg + WindowGroupLimit argmax — the only
    shuffle carries (doc, word) counts, not raw text."""
    from pinterest_data_pipeline_spark.operators.parallel import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    tri_sig = docs.select(
        "doc_id",
        toks.alias("t"),
        F.size(toks).alias("n"),
        F.round(text.dup_trigram_frac("text"), 6).alias("dup_trigram_frac"),
    )
    word_counts = (
        tri_sig.select("doc_id", F.explode_outer("t").alias("word"))
        .filter(F.col("word").isNotNull())
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("c"), F.asc("word"))
    top = (
        word_counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "c")
    )
    return (
        tri_sig.select("doc_id", "n", "dup_trigram_frac")
        .join(top, "doc_id", "left")
        .select(
            "doc_id",
            "dup_trigram_frac",
            F.round(
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.greatest(F.col("n"), F.lit(1)),
                6,
            ).alias("top_word_frac"),
        )
    )


# ------------------------------------------------------- decontam/pack/split


@register(
    "decontaminate_ngram_overlap",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(t) - 3),
                   i -> array_to_string(list_slice(t, i, i + 3), ' '))) AS gs
        FROM toks WHERE len(t) >= 4
    ),
    ex AS (SELECT doc_id, unnest(gs) AS ng FROM grams),
    ev AS (SELECT DISTINCT ng FROM ex WHERE doc_id % 20 = 0),
    tr AS (SELECT doc_id, ng FROM ex WHERE doc_id % 20 <> 0)
    SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shared
    FROM tr JOIN ev USING (ng)
    GROUP BY tr.doc_id
    """,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py): training docs
    sharing any word 4-gram with the held-out eval slice (doc_id % 20 = 0
    stands in for a benchmark set), with the distinct shared-gram count.
    The eval gram set is broadcast — the corpus side never shuffles its
    n-grams; an anti-join against this result is the "drop leaked docs"
    step of a curation funnel."""
    from pinterest_data_pipeline_spark.operators.decontam import (
        ngram_contamination,
    )

    docs = load_table(spark, sf_dir, "documents")
    return ngram_contamination(docs, F.col("doc_id") % 20 == 0)


@register(
    "pack_sequences_bins",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                    x -> x <> '')) AS BIGINT) AS n_tok
        FROM documents
    ),
    c AS (
        SELECT lang, n_tok,
               coalesce(sum(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS prev
        FROM t
    )
    SELECT lang, CAST(prev // 2048 AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM c GROUP BY lang, bin_id
    """,
)
def pack_sequences_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (operators/chunking.pack_sequences):
    documents laid end-to-end per language, binned every 2048 tokens —
    the deterministic packing used to build fixed-length training
    sequences. One shuffle (the per-language running-sum window), then a
    partial-aggregated groupBy on (lang, bin)."""
    from pinterest_data_pipeline_spark.operators.chunking import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, budget=2048)


@register(
    "train_val_split_hash",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d'
                    THEN 'test'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                    THEN 'val'
                ELSE 'train' END AS split
    FROM documents
    """,
)
def train_val_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash train/val/test split (operators/sampling.hash_split):
    md5-bucket assignment that is identical across engines, retries, and
    file splits — rand(seed) is partition-order-dependent and would
    reassign rows on a re-read. Pure per-row expression, zero shuffle."""
    from pinterest_data_pipeline_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return hash_split(docs, "doc_id")


# ----------------------------------------------- quality rules & boilerplate


@register(
    "gopher_quality_flags",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS t
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(len(t) AS BIGINT) AS n_words,
               round(CAST(list_sum(list_transform(t,
                       x -> CAST(len(x) AS BIGINT))) AS DOUBLE)
                     / len(t), 6) AS mean_word_len,
               round(CAST(len(list_filter(t,
                       x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                     / len(t), 6) AS alpha_frac,
               CAST(CAST(list_contains(t, 'the') AS INT)
                  + CAST(list_contains(t, 'be') AS INT)
                  + CAST(list_contains(t, 'to') AS INT)
                  + CAST(list_contains(t, 'of') AS INT)
                  + CAST(list_contains(t, 'and') AS INT)
                  + CAST(list_contains(t, 'that') AS INT)
                  + CAST(list_contains(t, 'have') AS INT)
                  + CAST(list_contains(t, 'with') AS INT)
                  + CAST(list_contains(t, 'a') AS INT)
                  + CAST(list_contains(t, 'in') AS INT) AS INT)
                   AS n_stop_present
        FROM toks WHERE len(t) > 0
    )
    SELECT doc_id, n_words, mean_word_len, alpha_frac, n_stop_present,
           CAST(CASE WHEN n_words BETWEEN 50 AND 100000
                      AND mean_word_len BETWEEN 3.0 AND 10.0
                      AND alpha_frac >= 0.8
                      AND n_stop_present >= 2
                     THEN 1 ELSE 0 END AS INT) AS passes_rules
    FROM m
    """,
)
def gopher_quality_flags_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule filter (operators/quality_rules.py): word-count
    bounds, mean word length, alphabetic-word fraction, stopword
    presence, and the combined pass flag. Pure per-row codegen — the
    zero-shuffle first stage of a curation funnel."""
    from pinterest_data_pipeline_spark.operators.quality_rules import (
        gopher_quality_flags,
    )

    docs = load_table(spark, sf_dir, "documents")
    return gopher_quality_flags(docs)


@register(
    "boilerplate_ngram_fraction",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(t) - 1),
                   i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS gs
        FROM toks WHERE len(t) >= 2
    ),
    ex AS (SELECT doc_id, unnest(gs) AS ng FROM grams),
    freq AS (
        SELECT ng FROM ex GROUP BY ng
        HAVING count(*) >= 0.08 * (SELECT count(*) FROM documents)
    ),
    hits AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frequent
        FROM ex JOIN freq USING (ng) GROUP BY doc_id
    ),
    tot AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        FROM ex GROUP BY doc_id
    )
    SELECT tot.doc_id, tot.n_grams,
           coalesce(hits.n_frequent, 0) AS n_frequent,
           round(CAST(coalesce(hits.n_frequent, 0) AS DOUBLE)
                 / tot.n_grams, 6) AS boilerplate_frac
    FROM tot LEFT JOIN hits USING (doc_id)
    """,
)
def boilerplate_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate share (operators/boilerplate.py): the
    fraction of each doc's distinct bigrams that occur in >= 8% of the
    corpus. Doc-frequency agg (one shuffle, map-side partials) feeds a
    broadcast of the small frequent head back over the corpus."""
    from pinterest_data_pipeline_spark.operators.boilerplate import (
        boilerplate_fraction,
    )

    docs = load_table(spark, sf_dir, "documents")
    return boilerplate_fraction(docs, min_doc_frac=0.08)


@register(
    "decontaminate_jaccard_overlap",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(t) - 2),
                   i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS gs
        FROM toks WHERE len(t) >= 3
    ),
    ex AS (SELECT doc_id, unnest(gs) AS ng FROM grams),
    sizes AS (SELECT doc_id, count(*) AS n_grams FROM ex GROUP BY doc_id),
    ev AS (
        SELECT ex.doc_id AS eval_id, ex.ng, s.n_grams AS eval_grams
        FROM ex JOIN sizes s USING (doc_id) WHERE ex.doc_id % 20 = 0
    ),
    tr AS (SELECT doc_id, ng FROM ex WHERE doc_id % 20 <> 0),
    inter AS (
        SELECT tr.doc_id, ev.eval_id, ev.eval_grams, count(*) AS inter
        FROM tr JOIN ev ON tr.ng = ev.ng
        GROUP BY tr.doc_id, ev.eval_id, ev.eval_grams
    ),
    j AS (
        SELECT i.doc_id,
               CAST(i.inter AS DOUBLE)
               / (s.n_grams + i.eval_grams - i.inter) AS j
        FROM inter i JOIN sizes s ON i.doc_id = s.doc_id
    )
    SELECT doc_id, round(max(j), 6) AS max_jaccard,
           CAST(count(*) AS BIGINT) AS n_eval_overlaps
    FROM j GROUP BY doc_id
    """,
)
def decontaminate_jaccard_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination (operators/decontam.jaccard_contamination):
    max trigram Jaccard of each training doc against any eval doc
    (doc_id % 20 = 0). Catches paraphrased leaks the exact-gram check
    misses; eval side broadcast, pair agg output-bound."""
    from pinterest_data_pipeline_spark.operators.decontam import (
        jaccard_contamination,
    )

    docs = load_table(spark, sf_dir, "documents")
    return jaccard_contamination(docs, F.col("doc_id") % 20 == 0)


@register(
    "deterministic_shuffle_shards",
    oracle="""
    WITH h AS (
        SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents
    ),
    s AS (
        SELECT doc_id, hx,
               CAST(((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
                   + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1))
                    % 16 AS INT) AS shard
        FROM h
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (
               PARTITION BY shard ORDER BY hx, doc_id) AS INT) AS pos
    FROM s
    """,
)
def deterministic_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed global shuffle (operators/sampling.
    deterministic_shuffle): md5-derived shard + within-shard position,
    reproducible across engines/retries unlike orderBy(rand()). One
    shuffle on the shard key; at scale the rank is replaced by
    repartition + sortWithinPartitions with the same layout."""
    from pinterest_data_pipeline_spark.operators.sampling import (
        deterministic_shuffle,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return deterministic_shuffle(docs, n_shards=16)


# ------------------------------------------------- corpus statistics scoring


@register(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(text, '\\s+'),
                                  x -> x <> '')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, term
    ),
    dfreq AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tf),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               round(tf.tf * ln(n.n_docs / dfreq.df), 6) AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, CAST(rk AS INT) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
        FROM scored
    ) WHERE rk <= 3
    """,
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF
    (operators/tfidf.py): two vocabulary-sized hash aggregates over the
    shared tf relation (Spark reuses the exchange), broadcast corpus
    size, WindowGroupLimit top-k. Rounded-score ranking with term
    tie-break keeps the cut engine-portable."""
    from pinterest_data_pipeline_spark.operators.tfidf import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3)


@register(
    "unigram_logprob_quality",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(text, '\\s+'),
                                  x -> x <> '')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, term
    ),
    freq AS (
        SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY term
    ),
    tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq)
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           round(sum(tf * ln(cnt / tot.total)) / sum(tf), 6) AS avg_logprob
    FROM tf JOIN freq USING (term) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained unigram LM score per document
    (operators/tfidf.unigram_logprob) — the CCNet-style statistical
    quality signal. Model build is one vocabulary-sized aggregate; token
    total is a broadcast aggregate of the model, never a second corpus
    pass."""
    from pinterest_data_pipeline_spark.operators.tfidf import unigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob(docs)


@register(
    "split_leakage_check",
    oracle="""
    WITH s AS (
        SELECT doc_id, md5(text) AS fp,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d'
                        THEN 'test'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                        THEN 'val'
                    ELSE 'train' END AS split
        FROM documents
    ),
    fp_stats AS (
        SELECT fp, COUNT(*) AS n_fp, COUNT(DISTINCT split) AS ns
        FROM s GROUP BY fp
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT s.fp) AS BIGINT) AS n_unique_fp,
           CAST(SUM(CASE WHEN n_fp > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_docs,
           CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_leaked_docs
    FROM s JOIN fp_stats ON s.fp = fp_stats.fp
    GROUP BY split ORDER BY split
    """,
)
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test hygiene audit: the hash split assigns by doc_id, so
    byte-identical documents under different ids CAN land in different
    splits — the classic eval-contamination leak. Per split: docs, unique
    content fingerprints, docs whose content occurs more than once
    anywhere (dup exposure), and docs whose content crosses splits
    (actual leakage; 0 on clean data, and the count — not an empty result
    set — is what the driver hashes). One fingerprint shuffle + a
    broadcast-size stats join; scales as exact dedup does."""
    from pinterest_data_pipeline_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    s = hash_split(docs, "doc_id").withColumn("fp", F.md5(F.col("text")))
    fp_stats = s.groupBy("fp").agg(
        F.count("*").alias("n_fp"),
        F.count_distinct("split").alias("ns"),
    )
    return (
        s.join(fp_stats, "fp")
        .groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count_distinct("fp").cast("bigint").alias("n_unique_fp"),
            F.sum(F.when(F.col("n_fp") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_docs"),
            F.sum(F.when(F.col("ns") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_leaked_docs"),
        )
        .orderBy("split")
    )


@register(
    "incremental_dedup_new_docs",
    oracle=f"""
    WITH existing AS (
        SELECT DISTINCT md5({_NORM_TEXT}) AS fingerprint
        FROM documents WHERE doc_id < 300
    ), increment AS (
        SELECT doc_id, md5({_NORM_TEXT}) AS fingerprint
        FROM documents WHERE doc_id >= 300
    ), fresh AS (
        SELECT i.doc_id, i.fingerprint FROM increment i
        WHERE NOT EXISTS (SELECT 1 FROM existing e
                          WHERE e.fingerprint = i.fingerprint)
    )
    SELECT doc_id, fingerprint FROM (
        SELECT doc_id, fingerprint,
               ROW_NUMBER() OVER (PARTITION BY fingerprint
                                  ORDER BY doc_id) AS rn
        FROM fresh
    ) WHERE rn = 1
    """,
)
def incremental_dedup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: docs ≥ 300 arrive as today's increment
    and are deduplicated against the ALREADY-KEPT corpus (docs < 300)
    using only its fingerprint state — the corpus text is never
    rescanned (operators/dedup.incremental_exact_survivors). Repeated
    increments converge to the same corpus a one-shot dedup builds,
    which is what makes daily-ingest dedup sound at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    existing = (
        docs.filter(F.col("doc_id") < 300)
        .select(dedup.fingerprint_md5("text").alias("fingerprint"))
        .distinct()
    )
    increment = docs.filter(F.col("doc_id") >= 300)
    return dedup.incremental_exact_survivors(
        increment, existing, "doc_id", "text"
    ).select("doc_id", "fingerprint")


@register(
    "incremental_minhash_new_pairs",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {_TRIGRAMS} AS g FROM documents
    ),
    {_MINHASH_BANDS}
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM banded l JOIN banded r
      ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
    WHERE l.doc_id >= 300 OR r.doc_id >= 300
    """,
)
def incremental_minhash_new_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup candidates: docs ≥ 300 signatured and joined
    against the STORED band table of docs < 300 — per-ingest LSH cost is
    O(increment) + one bucket join against state; union over ingests
    equals the one-shot candidate set (convergence pinned by
    tests/test_dedup_similarity.py). Registered in portable-hash mode so
    the oracle recomputes the full-corpus band table and keeps exactly
    the candidates with ≥1 new member — the same set the incremental
    join emits (production callers keep xxhash via the operator
    default)."""
    docs = load_table(spark, sf_dir, "documents")
    state = dedup.minhash_banded(
        docs.filter(F.col("doc_id") < 300), "doc_id", "text", portable=True
    )
    return dedup.incremental_minhash_candidates(
        docs.filter(F.col("doc_id") >= 300),
        state,
        "doc_id",
        "text",
        portable=True,
    )


@register(
    "minhash_estimate_accuracy_gate",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {_TRIGRAMS} AS g FROM documents WHERE doc_id < 150
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
              / greatest(len(a.g) + len(b.g)
                         - len(list_intersect(a.g, b.g)), 1) >= 0.2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(0 AS BIGINT) AS n_violations
    FROM pairs
    """,
)
def minhash_estimate_accuracy_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy gate for the MinHash JACCARD ESTIMATOR itself: on the
    bounded audit slice, every pair with exact trigram Jaccard ≥ 0.2
    must have its 32-hash signature agreement fraction within ±0.35 of
    the exact value (> 4σ of the binomial estimator at its worst-case
    variance, so a violation means a broken permutation family, not bad
    luck). The oracle pins the pair count and a zero violation count —
    the estimate itself never enters the hash, its guaranteed property
    does (same pattern as the HLL/percentile/top-k gates).
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    sig = dedup.fan_out(docs).select(
        F.col("doc_id").alias("__id"),
        dedup.minhash_signature("text").alias("__sig"),
        dedup.word_shingles("text").alias("__sh"),
    ).repartition(F.col("__id"))
    a = sig.select(
        F.col("__id").alias("id_a"),
        F.col("__sig").alias("sig_a"),
        F.col("__sh").alias("sh_a"),
    )
    b = sig.select(
        F.col("__id").alias("id_b"),
        F.col("__sig").alias("sig_b"),
        F.col("__sh").alias("sh_b"),
    )
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("exact_j", dedup.jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("exact_j") >= 0.2)
    )
    # agreement count = size(filter(zip_with(==), identity))
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    return pairs.select(
        (agree / F.lit(32.0)).alias("est_j"), "exact_j"
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count(
            F.when(F.abs(F.col("est_j") - F.col("exact_j")) > 0.35, True)
        ).alias("n_violations"),
    )


# ------------------------------------------------ round-3 corpus reports
#
# Per-source/per-language curation reports and dedup-graph structure —
# the summaries a corpus build publishes after every ingest. All are
# single-scan aggregations or reuse the portable-hash dedup pipelines,
# and every one carries a full DuckDB oracle.


@register(
    "dedup_rate_by_source",
    oracle=f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5({_NORM_TEXT})) AS BIGINT) AS n_unique,
           round(1.0 - CAST(COUNT(DISTINCT md5({_NORM_TEXT})) AS DOUBLE)
                       / COUNT(*), 6) AS dup_rate
    FROM documents GROUP BY source
    """,
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate rate: the first report a curation run
    publishes (which feeds are copy-heavy?). One scan, one shuffle on
    source — the count-distinct is partial-aggregated per source."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(text.fingerprint_md5("text")).alias("n_unique"),
        F.round(
            F.lit(1.0)
            - F.count_distinct(text.fingerprint_md5("text")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("dup_rate"),
    )


@register(
    "reservoir_sample_per_source",
    oracle="""
    SELECT source, doc_id, CAST(rk AS INTEGER) AS rk
    FROM (
        SELECT source, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    ) WHERE rk <= 20
    """,
)
def reservoir_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-source sample: rank by md5(doc_id) inside each
    source and keep the first 20. The hash order is a uniform shuffle
    that is IDENTICAL across engines, retries and partitionings — where
    rand(seed) would resample on every re-read (partition-order
    dependent), this is the reproducible 'audit sample' primitive. One
    window over the source partition, no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("source", "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
    )


@register(
    "quality_quartiles_by_lang",
    oracle=f"""
    WITH base AS (
        SELECT lang,
               {_QUALITY_SCORE}
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(quantile_cont(quality, 0.25), 6) AS q1,
           round(quantile_cont(quality, 0.50), 6) AS q2,
           round(quantile_cont(quality, 0.75), 6) AS q3
    FROM base GROUP BY lang
    """,
)
def quality_quartiles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language quality quartiles (linear-interpolated, the
    same definition both engines implement) — the calibration table that
    decides per-language quality cutoffs. percentile() is an exact
    aggregate: one shuffle on lang, sort inside the group only."""
    docs = load_table(spark, sf_dir, "documents")
    q = text.quality_score("text")
    pct = F.percentile(q, F.lit([0.25, 0.5, 0.75]))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.get(pct, 0), 6).alias("q1"),
        F.round(F.get(pct, 1), 6).alias("q2"),
        F.round(F.get(pct, 2), 6).alias("q3"),
    )


@register(
    "near_dup_cluster_size_histogram",
    oracle=f"""
    {_SIMHASH_DOC_SQL},
    pr AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE {_SIMHASH_HAMMING_SQL} <= 3
    ),
    und AS (
        SELECT id_a AS src, id_b AS dst FROM pr
        UNION SELECT id_b, id_a FROM pr
    ),
    reach(node, r) AS (
        SELECT src, src FROM und
        UNION
        SELECT u.dst, reach.r FROM reach JOIN und u ON u.src = reach.node
    ),
    comp AS (SELECT node, MIN(r) AS cid FROM reach GROUP BY node),
    sz AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS cluster_size
           FROM comp GROUP BY cid)
    SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM sz GROUP BY cluster_size
    """,
)
def near_dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structure of the near-duplicate graph: connected components over
    portable-hash SimHash pairs (Hamming ≤ 3), then the cluster-size
    histogram — how much of the corpus sits in 2-copies vs N-copy piles
    drives the dedup strategy (exact-first vs LSH budget). The DuckDB
    oracle recomputes the identical graph and components from first
    principles (recursive CTE)."""
    from pinterest_data_pipeline_spark.operators.clustering import (
        duplicate_clusters,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.simhash_near_pairs(docs, "doc_id", "text", portable=True)
    clusters = duplicate_clusters(pairs)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


_DRIFT_GRID = [round(0.1 * i, 1) for i in range(1, 10)]


def _drift_cdf_sql(split: str, t: float) -> str:
    return (
        f"CAST(COUNT(*) FILTER (WHERE split = '{split}' AND quality <= {t})"
        f" AS DOUBLE) / greatest(COUNT(*) FILTER (WHERE split = '{split}'), 1)"
    )


@register(
    "split_distribution_drift",
    oracle=f"""
    WITH scored AS (
        SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d'
                        THEN 'test'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                        THEN 'val'
                    ELSE 'train' END AS split,
               {_QUALITY_SCORE}
        FROM documents
    )
    SELECT CAST(COUNT(*) FILTER (WHERE split = 'train') AS BIGINT) AS n_train,
           CAST(COUNT(*) FILTER (WHERE split = 'val') AS BIGINT) AS n_val,
           round(greatest({", ".join(
               f"abs(({_drift_cdf_sql('train', t)}) - ({_drift_cdf_sql('val', t)}))"
               for t in _DRIFT_GRID
           )}), 6) AS max_cdf_gap
    FROM scored
    """,
)
def split_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val distribution-drift gate: max CDF gap of the quality
    score between the hash-split train and val sets over a fixed decile
    grid (a discretized Kolmogorov-Smirnov statistic). A correct
    content-hash split is distribution-neutral, so a large gap flags a
    broken split or a quality scorer keyed on the split variable. Single
    scan, one global aggregate — every CDF point is a conditional count."""
    from pinterest_data_pipeline_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    scored = hash_split(docs.select("doc_id", "text"), "doc_id").select(
        "split", text.quality_score("text").alias("quality")
    )

    def cdf(split: str, t: float):
        n = F.sum(F.when(F.col("split") == split, 1).otherwise(0))
        hits = F.sum(
            F.when((F.col("split") == split) & (F.col("quality") <= t), 1)
            .otherwise(0)
        )
        return hits.cast("double") / F.greatest(n, F.lit(1)).cast("double")

    gaps = [F.abs(cdf("train", t) - cdf("val", t)) for t in _DRIFT_GRID]
    return scored.agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("bigint")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
        .cast("bigint")
        .alias("n_val"),
        F.round(F.greatest(*gaps), 6).alias("max_cdf_gap"),
    )


@register(
    "packing_efficiency_report",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                    x -> x <> '')) AS BIGINT) AS n_tok
        FROM documents
    ),
    c AS (
        SELECT lang, n_tok,
               coalesce(sum(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS prev
        FROM t
    ),
    bins AS (
        SELECT lang, CAST(prev // 2048 AS BIGINT) AS bin_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens
        FROM c GROUP BY lang, bin_id
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(MAX(total_tokens) AS BIGINT) AS max_bin_tokens,
           round(CAST(SUM(total_tokens) AS DOUBLE)
                 / (COUNT(*) * 2048.0), 6) AS fill_rate
    FROM bins GROUP BY lang
    """,
)
def packing_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing QA over pack_sequences output: bins per language, docs
    packed, the largest bin (>2048 means a single document overflowed
    the budget — it needs chunking first), and the fill rate (wasted
    budget = 1 − fill). The report is a per-language aggregate over the
    packing result — no second pass over text."""
    from pinterest_data_pipeline_spark.operators.chunking import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    bins = pack_sequences(docs, budget=2048)
    return bins.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.max("total_tokens").cast("bigint").alias("max_bin_tokens"),
        F.round(
            F.sum("total_tokens").cast("double")
            / (F.count(F.lit(1)) * F.lit(2048.0)),
            6,
        ).alias("fill_rate"),
    )


@register(
    "length_zipf_slope",
    oracle="""
    WITH toks AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
        FROM documents
    ),
    counts AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
        FROM toks GROUP BY term
        ORDER BY freq DESC, term ASC LIMIT 100
    ),
    ranked AS (
        SELECT freq,
               ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) AS rk
        FROM counts
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(ln(CAST(rk AS DOUBLE))) AS sx,
               SUM(ln(CAST(freq AS DOUBLE))) AS sy,
               SUM(ln(CAST(rk AS DOUBLE)) * ln(CAST(rk AS DOUBLE))) AS sxx,
               SUM(ln(CAST(rk AS DOUBLE)) * ln(CAST(freq AS DOUBLE))) AS sxy
        FROM ranked
    )
    SELECT n AS n_terms,
           round((CAST(n AS DOUBLE) * sxy - sx * sy)
                 / (CAST(n AS DOUBLE) * sxx - sx * sx), 4) AS zipf_slope
    FROM s
    """,
)
def length_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law health check: OLS slope of ln(freq) vs ln(rank) over the
    top-100 vocabulary head (natural text ≈ −1; synthetic or boilerplate
    corpora deviate hard). Same distributed-ML-as-aggregation shape as
    ols_price_vs_quantity: token explode → partial-agg counts →
    TakeOrdered(100) → one tiny window + closed-form normal equations.
    Rounded to 4 decimals: the ln-sums accumulate over 100 doubles whose
    order differs between engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term")
    )
    counts = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("term"))
        .limit(100)
    )
    w = Window.orderBy(F.desc("freq"), F.asc("term"))
    ranked = counts.select(
        "freq", F.row_number().over(w).alias("rk")
    )
    lx = F.log(F.col("rk").cast("double"))
    ly = F.log(F.col("freq").cast("double"))
    s = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * lx).alias("sxx"),
        F.sum(lx * ly).alias("sxy"),
    )
    n = F.col("n").cast("double")
    return s.select(
        F.col("n").alias("n_terms"),
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (n * F.col("sxx") - F.col("sx") * F.col("sx")),
            4,
        ).alias("zipf_slope"),
    )


@register(
    "near_dup_triangle_count",
    oracle=f"""
    {_SIMHASH_DOC_SQL},
    pr AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE {_SIMHASH_HAMMING_SQL} <= 3
    ),
    tri AS (
        SELECT COUNT(*) AS t
        FROM pr e1 JOIN pr e2 ON e2.id_a = e1.id_b
                   JOIN pr e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    )
    SELECT CAST((SELECT COUNT(*) FROM pr) AS BIGINT) AS n_edges,
           CAST(t AS BIGINT) AS n_triangles
    FROM tri
    """,
)
def near_dup_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the near-duplicate graph — high triangle density
    vs edge count means duplicates form tight cliques (template spam)
    rather than chains (quote propagation), which picks the dedup
    strategy. Distributed triangle counting in its canonical DataFrame
    form: orient every edge low→high id (each triangle counted exactly
    once), then two self-joins — shuffle cost is |E| per hop, never a
    matrix. The DuckDB oracle recomputes the identical portable-hash
    graph and the same oriented join."""
    docs = load_table(spark, sf_dir, "documents")
    pr = dedup.simhash_near_pairs(
        docs, "doc_id", "text", portable=True
    ).select("id_a", "id_b").localCheckpoint(eager=False)
    e1, e2, e3 = pr.alias("e1"), pr.alias("e2"), pr.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.id_a") == F.col("e1.id_b"))
        .join(
            e3,
            (F.col("e3.id_a") == F.col("e1.id_a"))
            & (F.col("e3.id_b") == F.col("e2.id_b")),
        )
        .agg(F.count(F.lit(1)).alias("t"))
    )
    n_edges = pr.count()
    return tri.select(
        F.lit(n_edges).cast("bigint").alias("n_edges"),
        F.col("t").cast("bigint").alias("n_triangles"),
    )


# ---------------------------------------- passage dedup + distribution drift
#
# RefinedWeb/C4-style sub-document dedup and per-source distribution
# monitoring. The synthetic documents carry no newline structure, so the
# passage unit is a fixed 20-token span (the same unit chunk_documents
# uses) — on real corpora the splitter would be '\n\n'. All three carry
# full DuckDB oracles.


@register(
    "passage_dedup_report",
    oracle=f"""
    WITH toks AS (SELECT source, doc_id, {_TOKS} AS t FROM documents),
    p AS (
        SELECT source, doc_id,
               unnest(list_transform(range(CAST(ceil(len(t)/20.0) AS BIGINT)),
                   i -> md5(array_to_string(t[(20*i+1):(20*i+20)], ' '))))
                   AS ph
        FROM toks
    ),
    g AS (SELECT ph, COUNT(DISTINCT doc_id) AS nd FROM p GROUP BY ph)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_passages,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared,
           round(AVG(CASE WHEN nd > 1 THEN 1.0 ELSE 0.0 END), 6)
               AS shared_rate
    FROM p JOIN g USING (ph)
    GROUP BY source
    """,
)
def passage_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level (sub-document) exact dedup report, the RefinedWeb /
    C4 'line dedup' primitive: split every document into fixed 20-token
    passages, hash each, and report per source how many passages also
    appear in some OTHER document. Whole-document dedup misses this —
    boilerplate headers/footers duplicate across otherwise-unique pages.

    Scale: the passage relation is ~n_tokens/20 rows; the duplicate test
    is one shuffle on the passage hash (uniformly distributed by md5, so
    no skew), the join back is on the same key (no second repartition
    under AQE), and the report is a partial-aggregated rollup on source.
    Nothing is quadratic and no state leaves the executors."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.trim(F.col("text")), r"\s+")
    p = (
        docs.select("source", "doc_id", t.alias("t"))
        .select(
            "source",
            "doc_id",
            "t",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("t") / F.lit(20.0)).cast("int") - F.lit(1),
                )
            ).alias("i"),
        )
        .select(
            "source",
            "doc_id",
            F.md5(
                F.array_join(
                    F.slice("t", F.col("i") * F.lit(20) + F.lit(1), F.lit(20)),
                    " ",
                )
            ).alias("ph"),
        )
    )
    g = p.groupBy("ph").agg(F.count_distinct("doc_id").alias("nd"))
    return (
        p.join(g, "ph")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_passages"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared"),
            F.round(
                F.avg(F.when(F.col("nd") > 1, 1.0).otherwise(0.0)), 6
            ).alias("shared_rate"),
        )
    )


@register(
    "token_entropy_by_lang",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, unnest({_TOKS_LOWER}) AS term FROM documents
    ),
    tc AS (
        SELECT doc_id, lang, term, COUNT(*) AS c FROM tok GROUP BY ALL
    ),
    pd AS (
        SELECT lang,
               round(ln(CAST(SUM(c) AS DOUBLE))
                     - SUM(c * ln(CAST(c AS DOUBLE)))
                       / CAST(SUM(c) AS DOUBLE), 6) AS h,
               round(CAST(COUNT(*) AS DOUBLE)
                     / CAST(SUM(c) AS DOUBLE), 6) AS ttr
        FROM tc GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(AVG(h), 6) AS avg_entropy,
           round(AVG(ttr), 6) AS avg_ttr
    FROM pd GROUP BY lang
    """,
)
def token_entropy_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the unigram distribution and
    type-token ratio, averaged per language — the standard repetition /
    degenerate-text quality signals (low entropy = template or spam).
    Uses the algebraic identity H = ln N − (Σ c·ln c)/N so one pass over
    (doc, term) counts suffices; both engines fold doubles and round to
    6, which absorbs their different summation orders.

    Scale: token explode → partial-agg on (doc_id, term) → per-doc
    reduce → per-lang reduce. The wide (doc, term) relation is hash-
    partitioned by doc_id in the second agg so the per-doc rollup is
    map-side after the first shuffle; no window, no collect."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "term"
        ),
    )
    tc = toks.groupBy("doc_id", "lang", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    n = F.sum("c").cast("double")
    pd_ = tc.groupBy("doc_id", "lang").agg(
        F.round(
            F.log(n) - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / n,
            6,
        ).alias("h"),
        F.round(F.count(F.lit(1)).cast("double") / n, 6).alias("ttr"),
    )
    return pd_.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.avg("h"), 6).alias("avg_entropy"),
        F.round(F.avg("ttr"), 6).alias("avg_ttr"),
    )


@register(
    "unigram_kl_by_source",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest({_TOKS_LOWER}) AS term FROM documents
    ),
    sc AS (
        SELECT source, term, CAST(COUNT(*) AS DOUBLE) AS c
        FROM tok GROUP BY ALL
    ),
    corpus AS (SELECT term, SUM(c) AS cc FROM sc GROUP BY term),
    tot AS (SELECT source, SUM(c) AS ns FROM sc GROUP BY source),
    nn AS (SELECT SUM(cc) AS nn FROM corpus)
    SELECT source,
           round(SUM((c/ns) * ln((c/ns) / (cc/nn))), 6) AS kl_nats,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(MAX(ns) AS BIGINT) AS n_tokens
    FROM sc JOIN corpus USING (term)
            JOIN tot USING (source)
            CROSS JOIN nn
    GROUP BY source
    """,
)
def unigram_kl_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each source's unigram distribution from the
    corpus-wide distribution — the drift gate a mixture build runs per
    ingest (a feed whose KL jumps changed its content mix). KL(P_s‖P) is
    finite by construction: every source term is in the corpus vocab.

    Scale: one token explode feeding THREE reuses of the same
    (source, term) partial aggregate — corpus marginals, source totals
    and the scored join all derive from `sc`, so the corpus is tokenized
    once. The corpus-marginal join shuffles on term; source totals and
    the grand total are broadcast (5 rows / 1 row)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "term"
        ),
    )
    sc = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    corpus = sc.groupBy("term").agg(F.sum("c").alias("cc"))
    tot = sc.groupBy("source").agg(F.sum("c").alias("ns"))
    nn = corpus.agg(F.sum("cc").alias("nn"))
    p_s = F.col("c") / F.col("ns")
    p_c = F.col("cc") / F.col("nn")
    return (
        sc.join(corpus, "term")
        .join(F.broadcast(tot), "source")
        .crossJoin(F.broadcast(nn))
        .groupBy("source")
        .agg(
            F.round(F.sum(p_s * F.log(p_s / p_c)), 6).alias("kl_nats"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.max("ns").cast("bigint").alias("n_tokens"),
        )
    )


@register(
    "cdc_chunk_dedup_report",
    oracle=f"""
    WITH toks AS (SELECT source, doc_id, {_TOKS} AS t FROM documents),
    h AS (
        SELECT source, doc_id, t, len(t) AS n,
               list_transform(t, x ->
                   CAST(concat('0x', substr(md5(x),1,8)) AS BIGINT)) AS th
        FROM toks
    ),
    r AS (
        SELECT source, doc_id, t, n,
               list_filter(range(4, n + 1),
                   i -> ((th[i] + 31*th[i-1] + 961*th[i-2]
                          + 29791*th[i-3]) % 1048576) % 16 = 0) AS bnd
        FROM h
    ),
    sp AS (
        SELECT source, doc_id, t,
               CASE WHEN len(bnd) > 0 AND bnd[-1] = n THEN bnd
                    ELSE bnd || [n] END AS ends
        FROM r
    ),
    chunks AS (
        SELECT source, doc_id,
               unnest(list_transform(range(1, len(ends) + 1), j ->
                   md5(array_to_string(
                       t[(CASE WHEN j = 1 THEN 1 ELSE ends[j-1] + 1 END):ends[j]],
                       ' ')))) AS chunk_hash,
               unnest(list_transform(range(1, len(ends) + 1), j ->
                   ends[j] - (CASE WHEN j = 1 THEN 1
                              ELSE ends[j-1] + 1 END) + 1)) AS chunk_tokens
        FROM sp
    ),
    g AS (SELECT chunk_hash, COUNT(DISTINCT doc_id) AS nd
          FROM chunks GROUP BY chunk_hash)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared,
           round(AVG(CASE WHEN nd > 1 THEN 1.0 ELSE 0.0 END), 6)
               AS shared_rate,
           round(AVG(CAST(chunk_tokens AS DOUBLE)), 6) AS avg_chunk_tokens
    FROM chunks JOIN g USING (chunk_hash)
    GROUP BY source
    """,
)
def cdc_chunk_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunk dedup report: the CDC analog of
    passage_dedup_report. Boundaries come from a rolling hash of the
    last 4 tokens (operators/chunking.py cdc_chunks), so chunking is
    insertion-robust — a one-token edit shifts every FIXED passage after
    it but leaves all CDC chunks outside the edited span identical,
    which is what makes chunk-level dedup work across document
    versions/mirrors. Per source: chunk count, chunks shared with some
    other document, shared rate and mean chunk length (expected ≈ the
    16-token mask).

    Scale: chunking is a shuffle-free expression map; the duplicate test
    is one shuffle on the (uniform) chunk hash and a same-key join back,
    then a rollup on source — the passage_dedup_report plan with a
    smarter chunker. The DuckDB oracle reproduces the identical rolling
    hash, boundaries, and chunk hashes from the portable md5-prefix
    token hash."""
    from pinterest_data_pipeline_spark.operators.chunking import cdc_chunks

    docs = load_table(spark, sf_dir, "documents")
    ch = cdc_chunks(docs, extra_cols=("source",))
    g = ch.groupBy("chunk_hash").agg(F.count_distinct("doc_id").alias("nd"))
    return (
        ch.join(g, "chunk_hash")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared"),
            F.round(
                F.avg(F.when(F.col("nd") > 1, 1.0).otherwise(0.0)), 6
            ).alias("shared_rate"),
            F.round(F.avg(F.col("chunk_tokens").cast("double")), 6).alias(
                "avg_chunk_tokens"
            ),
        )
    )


@register(
    "cross_source_containment",
    oracle=f"""
    WITH toks AS (SELECT source, doc_id, {_TOKS} AS t FROM documents),
    p AS (
        SELECT DISTINCT source,
               unnest(list_transform(range(CAST(ceil(len(t)/20.0) AS BIGINT)),
                   i -> md5(array_to_string(t[(20*i+1):(20*i+20)], ' '))))
                   AS ph
        FROM toks
    ),
    tot AS (SELECT source, COUNT(*) AS n FROM p GROUP BY source),
    common AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
        FROM p a JOIN p b
          ON a.ph = b.ph AND a.source <> b.source
        GROUP BY 1, 2
    )
    SELECT src_a, src_b,
           CAST(ta.n AS BIGINT) AS n_a,
           CAST(n_common AS BIGINT) AS n_common,
           round(CAST(n_common AS DOUBLE) / ta.n, 6) AS containment
    FROM common JOIN tot ta ON ta.source = src_a
    """,
)
def cross_source_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment matrix between sources over PASSAGE
    hashes: |p(A) ∩ p(B)| / |p(A)| for every ordered source pair with
    any shared 20-token passage — the mirror/syndication detector
    (containment(A→B) ≈ 1 with small |A| means A is a subset mirror of
    B). Passage-level, not whole-document: mirrors rewrap boilerplate
    around copied bodies, so document fingerprints rarely collide across
    feeds while their passages do.

    Scale: distinct (source, passage-hash) — output bounded by corpus
    passages — then a self-equi-join ON THE HASH (never source×source;
    pairs materialize only for passages actually shared), one rollup,
    and a broadcast of per-source totals. A passage shared by many
    sources fans out |sources|² in its own key only."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.trim(F.col("text")), r"\s+")
    p = (
        docs.select("source", t.alias("t"))
        .select(
            "source",
            "t",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("t") / F.lit(20.0)).cast("int") - F.lit(1),
                )
            ).alias("i"),
        )
        .select(
            "source",
            F.md5(
                F.array_join(
                    F.slice("t", F.col("i") * F.lit(20) + F.lit(1), F.lit(20)),
                    " ",
                )
            ).alias("ph"),
        )
        .distinct()
    )
    tot = p.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = p.alias("a"), p.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.ph") == F.col("b.ph"))
            & (F.col("a.source") != F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(
            F.broadcast(tot.withColumnRenamed("source", "src_a")), "src_a"
        )
        .select(
            "src_a",
            "src_b",
            F.col("n").cast("bigint").alias("n_a"),
            F.col("n_common").cast("bigint").alias("n_common"),
            F.round(
                F.col("n_common").cast("double") / F.col("n"), 6
            ).alias("containment"),
        )
    )


@register(
    "weighted_sample_per_source",
    oracle=f"""
    WITH w AS (
        SELECT source, doc_id,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT)
               // (CAST(floor(round(
                      0.4 * least((CAST({_hits("en")} AS DOUBLE)
                              / greatest(CAST(len({_TOKS}) AS DOUBLE), 1.0)) * 4.0, 1.0)
                      + 0.3 * (CASE WHEN CAST(length(text) AS DOUBLE)
                                         / greatest(CAST(len({_TOKS}) AS DOUBLE), 1.0)
                                         BETWEEN 3.0 AND 12.0
                               THEN 1.0 ELSE 0.0 END)
                      + 0.2 * (1.0 - least((CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                                            / greatest(length(text), 1)) * 5.0, 1.0))
                      + 0.1 * (1.0 - least((CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                                            / greatest(length(text), 1)) * 5.0, 1.0)), 6)
                    * 10) AS BIGINT) + 1) AS priority
        FROM documents
    )
    SELECT source, doc_id, CAST(rk AS INTEGER) AS rk
    FROM (
        SELECT source, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY priority ASC, doc_id ASC
               ) AS rk
        FROM w
    ) WHERE rk <= 10
    """,
)
def weighted_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic QUALITY-WEIGHTED sample, 10 docs per source: each
    document draws an md5-uniform 60-bit priority divided (integer
    division) by its integer-scaled quality weight, and the k lowest
    priorities win — higher-quality documents systematically draw lower
    priorities, so inclusion probability rises with weight while the
    draw stays reproducible across engines, retries and partitionings.

    Why integer arithmetic and not textbook A-Res (u^(1/w)): pow/ln are
    libm calls whose last ulp differs between the JVM and DuckDB, and a
    1-ulp flip near a rank boundary would flip the SAMPLE — the same
    determinism discipline that bans streamed double sums from
    thresholds (see dormant_rich_customers). Integer division of the
    60-bit hash by the 1..11 weight is exact everywhere.

    Scale: one window per source partition, WindowGroupLimit pushes the
    top-k below the shuffle; no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    # floor (not round/cast): Spark's double→long cast truncates while
    # DuckDB's rounds, and round() half-cases depend on engine rounding
    # mode — floor is identical everywhere on identical doubles. `div`
    # (not /): Spark's / on longs is DOUBLE division, lossy above 2^53.
    w_int = F.floor(text.quality_score("text") * 10).cast("bigint") + F.lit(1)
    h60 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    win = Window.partitionBy("source").orderBy(
        F.asc("priority"), F.asc("doc_id")
    )
    return (
        docs.select(
            "source", "doc_id", h60.alias("__h"), w_int.alias("__w")
        )
        .select(
            "source", "doc_id", F.expr("__h div __w").alias("priority")
        )
        .withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= 10)
        .select("source", "doc_id", "rk")
    )
