"""Retrieval/ranking operators: BM25 term scoring and reciprocal-rank
fusion of independent rankings.

These are the retrieval-side companions of the TF-IDF family in
operators/tfidf.py: BM25 is the standard lexical relevance function a
corpus-scale retrieval layer (or a RAG data pipeline) runs over the
documents table, and RRF is the standard way to combine heterogeneous
rankings (lexical score, quality margin, LM score) without calibrating
their scales against each other.

Exactness: BM25's per-(doc, term) score is one fixed expression tree of
IEEE-correctly-rounded ops (ln/div/mul — each deterministic per-operand),
and the per-doc SUM over query terms folds in SORTED term order via
``aggregate`` over a sorted collect (the sqrt_temperature_shares
discipline), so a SQL oracle replays the identical double. RRF ranks are
integers from total-order windows; the fused score is a fixed-order sum
of exact-operand divisions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators.chunking import ws_tokens


_BM25_K1 = 1.2
_BM25_B = 0.75


def bm25_scores(
    docs: DataFrame,
    terms: Sequence[str],
) -> DataFrame:
    """Okapi BM25 score of every document against a fixed bag of query
    ``terms``: sum over matched terms of
    ``idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`` (k1 = 1.2,
    b = 0.75) with the
    standard "+1" idf ``ln(1 + (N − df + 0.5)/(df + 0.5))`` (always
    positive). Returns (doc_id, n_matched, bm25_r6) for documents
    matching ≥ 1 term; the score rounds to 6dp once, after the
    sorted-order term fold.

    Scale: two column-pruned corpus scans — one folds the corpus
    constants (N, avgdl: every document counts, matched or not), one
    builds (doc, term, tf) postings for query terms only (an
    array_contains prune before the explode). df/N/avgdl are
    constant-size aggregates broadcast back (the 1-row crossJoin is a
    BroadcastNestedLoop over one row — the epoch_capped_mixture
    pattern, constant cost); the per-doc fold runs over ≤ |terms| rows.
    No shuffle exceeds the matched-posting volume — the cost class of a
    posting-list traversal, not a corpus join."""
    toks = ws_tokens("text")
    term_arr = F.array(*[F.lit(t) for t in sorted(set(terms))])
    base = docs.select(
        F.col("doc_id").alias("__id"),
        F.filter(toks, lambda t: F.array_contains(term_arr, t)).alias("__hits"),
        F.size(toks).cast("bigint").alias("__dl"),
    )
    # corpus constants: N and avgdl (exact integer sums; one division)
    consts = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n_docs"),
        F.sum("__dl").cast("bigint").alias("__tot_len"),
    )
    tf = (
        base.select("__id", "__dl", F.explode("__hits").alias("term"))
        .groupBy("__id", "__dl", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__tf"))
    )
    df_counts = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("__df")
    )
    scored = (
        tf.join(F.broadcast(df_counts), "term")
        .crossJoin(F.broadcast(consts))
        .withColumn(
            "__idf",
            F.log(
                F.lit(1.0)
                + (F.col("__n_docs") - F.col("__df") + F.lit(0.5))
                / (F.col("__df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "__score",
            F.col("__idf")
            * (F.col("__tf") * F.lit(_BM25_K1 + 1.0))
            / (
                F.col("__tf")
                + F.lit(_BM25_K1)
                * (
                    F.lit(1.0 - _BM25_B)
                    + F.lit(_BM25_B)
                    * F.col("__dl")
                    / (F.col("__tot_len") / F.col("__n_docs"))
                )
            ),
        )
    )
    # fold per doc in sorted term order so the double sum is
    # order-deterministic and oracle-replayable
    return (
        scored.groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matched"),
            F.round(
                F.aggregate(
                    F.sort_array(
                        F.collect_list(F.struct("term", "__score"))
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x["__score"],
                ),
                6,
            ).alias("bm25_r6"),
        )
        .select(F.col("__id").alias("doc_id"), "n_matched", "bm25_r6")
    )


def reciprocal_rank_fusion(
    ranked: DataFrame,
    id_col: str,
    rank_orders: dict[str, Sequence[Column]],
    top_n: int | None = None,
) -> DataFrame:
    """Fuse multiple orderings of the same relation by reciprocal-rank:
    for each named ordering in ``rank_orders`` (name → window order
    spec, which MUST be a total order — append the id as tiebreak),
    rank all rows, then score each row ``Σ 1/(60 + rank_i)`` and order by
    fused score DESC, id ASC. Returns (id_col, rank_<name>... , rrf_r6)
    — optionally cut to ``top_n`` via a TakeOrdered-style limit.

    RRF (Cormack et al., SIGIR'09) is scale-free: it never compares raw
    scores across rankings, so a lexical BM25, a quality margin and an
    LM logprob fuse without calibration. Each 1/(60+rank) is one exact
    division; the fixed left-to-right sum over the (constant, small)
    ranking set is order-deterministic.

    Scale: each ranking is one global-ordered window — acceptable for
    the candidate sets RRF is used on (top-k pools), not full corpora;
    at corpus scale rank within partitions first (the salted-top-k
    pattern) and fuse the pooled heads."""
    out = ranked
    rank_cols = []
    for name, order in rank_orders.items():
        w = Window.orderBy(*order)
        col = f"rank_{name}"
        out = out.withColumn(col, F.row_number().over(w).cast("bigint"))
        rank_cols.append(col)
    score = None
    for col in rank_cols:
        term = F.lit(1.0) / (F.lit(60.0) + F.col(col))
        score = term if score is None else score + term
    out = out.withColumn("rrf_r6", F.round(score, 6)).select(
        id_col, *rank_cols, "rrf_r6"
    )
    out = out.orderBy(F.col("rrf_r6").desc(), F.col(id_col).asc())
    if top_n is not None:
        out = out.limit(int(top_n))
    return out


def mmr_rerank(
    pool: DataFrame,
    sims: DataFrame,
    select_k: int = 4,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98)
    greedy diversification of a bounded candidate pool, λ = 1/2:

        mmr(c) = 0.5·rel(c) − 0.5·max_{s ∈ selected} sim(c, s)

    selecting ``select_k`` candidates per query, highest-mmr first
    (first pick has an empty selected set, so mmr = 0.5·rel). Returns
    (query_id, step, cand_id, rel, mmr_r6), one row per pick, with
    ties broken by candidate id ascending so the greedy trajectory is
    deterministic and an unrolled SQL oracle replays it step for step.

    ``pool`` is the per-query candidate relation (query, cand, rel with
    rel pre-rounded to 6dp); ``sims`` holds BOTH directions of every
    intra-pool candidate-pair similarity (a, b, sim), also 6dp.

    Scale: greedy MMR is inherently sequential in ``select_k``, so the
    unrolled loop below builds ``select_k`` dependent stages — correct
    ONLY because the pool is bounded per query (a top-k head, never a
    corpus: |pool|² pair sims and k dependent joins are both fine at
    pool size, ruinous at corpus size). Every stage is a broadcast-size
    join keyed by query; nothing in the loop touches the corpus. The
    0.5 weights are dyadic, so each mmr value is one exact
    multiply/subtract tree over already-rounded 6dp operands — the same
    double in any engine.
    """
    half = F.lit(0.5)
    # Materialize both inputs: the greedy loop references pool in every
    # stage (and sims in all but the first), so without the barrier each
    # of the k stages re-runs the full upstream candidate-generation
    # lineage — k corpus scans when the pool comes from a top-k scorer
    # (measured: mmr_diverse_rerank 4.3 s → ~1 s at sf0.1). Both
    # relations are bounded by the pool contract, so the checkpoint is
    # pool-sized, never corpus-sized.
    pool = pool.localCheckpoint(eager=False)
    sims = sims.localCheckpoint(eager=False)
    first = pool.withColumn(
        "mmr_r6", F.round(half * F.col("rel"), 6)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("mmr_r6").desc(), F.col("cand_id").asc()
    )
    selected = (
        first.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "query_id",
            F.lit(1).cast("int").alias("step"),
            "cand_id",
            "rel",
            "mmr_r6",
        )
    )
    s = sims.select(
        F.col("query_id").alias("__sq"),
        F.col("id_a").alias("__sa"),
        F.col("id_b").alias("__sb"),
        F.col("sim").alias("__sv"),
    )
    for step in range(2, select_k + 1):
        remaining = pool.join(
            selected.select("query_id", "cand_id"),
            ["query_id", "cand_id"],
            "left_anti",
        )
        scored = (
            remaining.join(
                s,
                (F.col("query_id") == F.col("__sq"))
                & (F.col("cand_id") == F.col("__sa")),
            )
            .join(
                selected.select(
                    F.col("query_id").alias("__q2"),
                    F.col("cand_id").alias("__sel"),
                ),
                (F.col("__sq") == F.col("__q2"))
                & (F.col("__sb") == F.col("__sel")),
            )
            .groupBy("query_id", "cand_id", "rel")
            .agg(F.max("__sv").alias("__maxsim"))
            .withColumn(
                "mmr_r6",
                F.round(
                    half * F.col("rel") - half * F.col("__maxsim"), 6
                ),
            )
        )
        pick = (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "query_id",
                F.lit(step).cast("int").alias("step"),
                "cand_id",
                "rel",
                "mmr_r6",
            )
        )
        selected = selected.unionByName(pick)
    return selected


def ndcg_at_k(
    graded: DataFrame,
    group_col: str,
    rank_col: str,
    grade_col: str,
    tie_col: str,
    k: int = 10,
) -> DataFrame:
    """NDCG@k of a ranking against graded relevance, per group — the
    standard offline evaluation a retrieval/feed pipeline runs before
    shipping a ranker change.

    ``graded`` carries one row per (group, item): the ranker's 1-based
    ``rank_col`` (a total order within the group) and an integer
    ``grade_col`` ≥ 0. DCG@k sums gain/discount over the ranker's top
    k; IDCG@k re-ranks by grade DESC (``tie_col`` ASC) — the best any
    ranker could do; NDCG = DCG/IDCG. Gains are exponential
    (2^grade − 1, exact integers) and the discount is the natural-log
    variant 1/ln(rank+1) — same correctly-rounded ln both engines use
    for BM25's idf, so every term is the identical double. Both sums
    fold in ascending rank order via the sorted-collect discipline
    (bm25_scores), making the accumulation order engine-independent.

    Returns (group_col, dcg_r6, idcg_r6, ndcg_r6); ndcg divides the
    UNROUNDED sums, then rounds once.

    Scale: two bounded windows per group (the ranker's order usually
    arrives precomputed; the ideal order only ranks k'-deep heads) and
    a per-group aggregate over ≤ k rows each. Grades must stay modest
    (2^grade exact in BIGINT ⇒ grade ≤ 62)."""

    def fold_terms(df: DataFrame, pos_col: str) -> DataFrame:
        term = (
            (F.pow(F.lit(2.0), F.col(grade_col).cast("double")) - F.lit(1.0))
            / F.log(F.col(pos_col).cast("double") + F.lit(1.0))
        )
        return (
            df.filter(F.col(pos_col) <= k)
            .select(
                F.col(group_col).alias("__g"),
                F.col(pos_col).alias("__pos"),
                term.alias("__term"),
            )
            .groupBy("__g")
            .agg(
                F.aggregate(
                    F.sort_array(
                        F.collect_list(F.struct("__pos", "__term"))
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x["__term"],
                ).alias("__sum")
            )
        )

    ideal = graded.withColumn(
        "__ideal_rank",
        F.row_number().over(
            Window.partitionBy(group_col).orderBy(
                F.col(grade_col).desc(), F.col(tie_col).asc()
            )
        ),
    )
    dcg = fold_terms(graded, rank_col).withColumnRenamed("__sum", "__dcg")
    idcg = fold_terms(ideal, "__ideal_rank").withColumnRenamed(
        "__sum", "__idcg"
    )
    return (
        dcg.join(idcg, "__g")
        .select(
            F.col("__g").alias(group_col),
            F.round("__dcg", 6).alias("dcg_r6"),
            F.round("__idcg", 6).alias("idcg_r6"),
            # NULL (not ANSI DivideByZero) when every grade in the group
            # is 0 (idcg = 0); oracles mirror the CASE WHEN.
            F.round(
                F.when(
                    F.col("__idcg") != 0, F.col("__dcg") / F.col("__idcg")
                ),
                6,
            ).alias("ndcg_r6"),
        )
    )


_RBO_DEPTH = 10


def rbo_at_k(
    a: DataFrame,
    b: DataFrame,
    id_col: str,
    *,
    p: float = 0.9,
) -> DataFrame:
    """Rank-biased overlap at depth k = 10 (Webber et al., TOIS 2010)
    between two top-``k`` rankings — the top-weighted agreement measure
    for comparing rankers (NDCG scores one ranker against labels; RBO
    scores two rankers against each other, no labels needed):

        RBO@k = (1−p) · Σ_{d=1..k} p^(d−1) · |A_d ∩ B_d| / d

    Inputs are two relations carrying (id, ``rank``) with ranks 1..k
    (ties already broken upstream — determinism is the caller's
    ordering contract). Returns ONE row: (overlap_at_k, rbo_r6).
    The depth weights (1−p)·p^(d−1)/d are Python-computed literals
    baked identically into the plan and any SQL oracle; each overlap
    is an integer count, so the k-term weighted sum is a fixed
    expression tree evaluated left-to-right on both engines.

    Scale: one equi-join on id over two k-row relations and a single
    aggregate — metadata-sized regardless of corpus size (the expensive
    part, producing the top-k lists, is the caller's
    TakeOrderedAndProject)."""
    j = a.select(
        F.col(id_col).alias("__id"), F.col("rank").alias("__ra")
    ).join(
        b.select(F.col(id_col).alias("__id"), F.col("rank").alias("__rb")),
        "__id",
    )
    aggs = [
        F.coalesce(
            F.sum(
                F.when((F.col("__ra") <= d) & (F.col("__rb") <= d), 1).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias(f"__o{d}")
        for d in range(1, _RBO_DEPTH + 1)
    ]
    row = j.agg(*aggs)
    rbo = None
    for d in range(1, _RBO_DEPTH + 1):
        term = F.lit((1.0 - p) * p ** (d - 1) / d) * F.col(f"__o{d}").cast(
            "double"
        )
        rbo = term if rbo is None else rbo + term
    return row.select(
        F.col(f"__o{_RBO_DEPTH}").alias(f"overlap_at_{_RBO_DEPTH}"),
        F.round(rbo, 6).alias("rbo_r6"),
    )


def average_precision_at_k(
    graded: DataFrame,
    group_col: str,
    rank_col: str,
    rel_col: str,
) -> DataFrame:
    """Average precision at depth k = 10 per group — the binary-label
    companion to NDCG (graded) and RBO (label-free):

        AP@k = Σ_{i≤k, rel_i} P@i / min(R, k),   P@i = (#rel in top i)/i

    ``rel_col`` is a 0/1 relevance indicator, ``rank_col`` a 1-based
    total-order rank (ties broken upstream — the caller's determinism
    contract). R is the group's TOTAL relevant count (standard MAP
    normalization: a perfect ranker scores 1 even when R > k caps the
    numerator at k hits). Returns one row per group:
    (group, n_rel, hits_at_k, ap_r6); ap_r6 is NULL for groups with no
    relevant documents (0/0 guard).

    Exactness: every P@i is an integer ratio; the per-group sum folds
    in ascending rank order over ≤k rows (the bm25/NDCG sorted-fold
    discipline), so a SQL oracle replays the double exactly.

    Scale: one grouped aggregate for R, one ≤k-row fold per group; the
    rank window is the caller's (TakeOrdered for global rankers,
    per-group window otherwise)."""
    k = 10
    g = F.col(group_col)
    rel = F.col(rel_col).cast("bigint")
    totals = graded.groupBy(g.alias("__g")).agg(
        F.sum(rel).cast("bigint").alias("n_rel")
    )
    top = graded.filter(F.col(rank_col) <= k).select(
        g.alias("__g"),
        F.col(rank_col).cast("bigint").alias("__rank"),
        rel.alias("__rel"),
    )
    w = Window.partitionBy("__g").orderBy("__rank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    terms = top.withColumn(
        "__p_at_i",
        F.when(
            F.col("__rel") == 1,
            F.sum("__rel").over(w).cast("double")
            / F.col("__rank").cast("double"),
        ).otherwise(F.lit(0.0)),
    )
    folded = terms.groupBy("__g").agg(
        F.sum("__rel").cast("bigint").alias("hits_at_k"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("__rank", "__p_at_i"))),
            F.lit(0.0),
            lambda acc, x: acc + x["__p_at_i"],
        ).alias("__ap_num"),
    )
    return (
        folded.join(totals, "__g")
        .select(
            F.col("__g").alias(group_col),
            "n_rel",
            "hits_at_k",
            F.round(
                F.when(
                    F.col("n_rel") > 0,
                    F.col("__ap_num")
                    / F.least(F.col("n_rel"), F.lit(k)).cast("double"),
                ),
                6,
            ).alias("ap_r6"),
        )
        .orderBy(group_col)
    )


def dirichlet_lm_scores(
    docs: DataFrame,
    terms: Sequence[str],
    mu: float = 2000.0,
) -> DataFrame:
    """Query-likelihood ranking with Dirichlet smoothing (Zhai &
    Lafferty 2001) — BM25's probabilistic sibling and the second
    standard lexical ranker:

        score(q, d) = Σ_{t ∈ q} ln( (tf_td + μ·p_C(t)) / (dl_d + μ) )

    with p_C(t) = cf_t / |C| the corpus unigram model. Unmatched query
    terms still contribute their background probability, which is the
    decomposition this implementation exploits to stay
    POSTINGS-BOUNDED:

        score = A − m·ln(dl + μ)
                + Σ_{matched} [ln(tf + μ·p_t) − ln(μ·p_t)]

    where A = Σ_t ln(μ·p_t) and m = |effective query| are corpus
    constants — so only MATCHED (doc, term) postings are ever
    materialized, exactly like bm25_scores. Terms absent from the
    whole corpus (cf = 0, background −∞) drop from the effective
    query on both engines.

    Determinism: cf/dl/|C| are exact integer aggregates; A and every
    per-doc correction fold in SORTED TERM ORDER (the bm25 discipline)
    so the doubles are engine-identical; one final round(…, 6).

    Returns (doc_id, n_matched, qlm_r6) for documents matching ≥ 1
    effective term.

    Scale: identical cost class to bm25_scores — two pruned corpus
    scans, constant-size broadcast stats, per-doc folds over ≤ |terms|
    rows."""
    from pinterest_data_pipeline_spark.operators.chunking import ws_tokens

    toks = ws_tokens("text")
    term_arr = F.array(*[F.lit(t) for t in sorted(set(terms))])
    base = docs.select(
        F.col("doc_id").alias("__id"),
        F.filter(toks, lambda t: F.array_contains(term_arr, t)).alias(
            "__hits"
        ),
        F.size(toks).cast("bigint").alias("__dl"),
    )
    consts = base.agg(
        F.sum("__dl").cast("bigint").alias("__tot_len")
    )
    tf = (
        base.select("__id", "__dl", F.explode("__hits").alias("term"))
        .groupBy("__id", "__dl", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__tf"))
    )
    cf = tf.groupBy("term").agg(F.sum("__tf").cast("bigint").alias("__cf"))
    # A and m fold over the (≤ |terms|)-row cf relation in sorted term
    # order: collect to one array, sequential-aggregate.
    qstats = (
        cf.crossJoin(F.broadcast(consts))
        .select(
            F.struct("term", "__cf", "__tot_len").alias("__s")
        )
        .agg(F.sort_array(F.collect_list("__s")).alias("__arr"))
        .select(
            F.aggregate(
                F.col("__arr"),
                F.lit(0.0),
                lambda acc, s: acc
                + F.log(
                    F.lit(float(mu))
                    * s["__cf"].cast("double")
                    / s["__tot_len"].cast("double")
                ),
            ).alias("__a"),
            F.size("__arr").cast("bigint").alias("__m"),
        )
    )
    scored = (
        tf.join(F.broadcast(cf), "term")
        .crossJoin(F.broadcast(consts))
        .select(
            "__id",
            "__dl",
            "term",
            (
                F.log(
                    F.col("__tf").cast("double")
                    + F.lit(float(mu))
                    * F.col("__cf").cast("double")
                    / F.col("__tot_len").cast("double")
                )
                - F.log(
                    F.lit(float(mu))
                    * F.col("__cf").cast("double")
                    / F.col("__tot_len").cast("double")
                )
            ).alias("__corr"),
        )
    )
    per_doc = (
        scored.groupBy("__id", "__dl")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matched"),
            F.sort_array(
                F.collect_list(F.struct("term", "__corr"))
            ).alias("__cs"),
        )
        .crossJoin(F.broadcast(qstats))
        .select(
            F.col("__id").alias("doc_id"),
            "n_matched",
            F.round(
                F.col("__a")
                - F.col("__m").cast("double")
                * F.log(F.col("__dl").cast("double") + F.lit(float(mu)))
                + F.aggregate(
                    F.col("__cs"),
                    F.lit(0.0),
                    lambda acc, s: acc + s["__corr"],
                ),
                6,
            ).alias("qlm_r6"),
        )
    )
    return per_doc


def err_at_k(
    graded: DataFrame,
    group_col: str,
    rank_col: str,
    grade_col: str,
) -> DataFrame:
    """Expected Reciprocal Rank at k = 10 (Chapelle et al. 2009) — the
    CASCADE-model companion to ndcg_at_k: where NDCG assumes the user
    inspects every position with geometric patience, ERR models a user
    who STOPS at the first satisfying result,

        ERR@k = Σ_{r≤k} (R_r / r) · Π_{i<r} (1 − R_i),
        R = (2^grade − 1) / 2^g_max,

    so a highly relevant document at rank 1 sharply devalues
    everything below it — the metric that separates "top-heavy good"
    from "uniformly okay" rankings NDCG scores alike.

    ``graded`` carries one row per (group, item) with the ranker's
    1-based ``rank_col`` and integer grades in [0, g_max], g_max = 9
    (2^g exact in the double). With g_max bounding the grades, R < 1
    always, so the survival product never hits an exact zero and its
    log-space form is well-defined.

    Engine-portability: R is a dyadic rational of exact integers; the
    survival product computes as exp(Σ ln(1 − R)) over an
    ASCENDING-RANK exclusive window (both engines accumulate the frame
    in rank order); the final Σ of ≤ k terms folds sorted (the
    bm25/ndcg discipline); one round(…, 6) at the end.

    Returns (group_col, err_r6).

    Scale: one bounded window + one aggregate over ≤ k rows per
    group."""
    r_prob = (
        F.pow(F.lit(2.0), F.col(grade_col).cast("double")) - F.lit(1.0)
    ) / F.lit(float(2**9))
    top = graded.filter(F.col(rank_col) <= 10).select(
        F.col(group_col).alias("__g"),
        F.col(rank_col).alias("__pos"),
        r_prob.alias("__r"),
    )
    termed = top.select(
        "__g",
        "__pos",
        (
            F.col("__r")
            / F.col("__pos").cast("double")
            * F.exp(
                F.coalesce(
                    F.sum(F.log(F.lit(1.0) - F.col("__r"))).over(
                        Window.partitionBy("__g")
                        .orderBy("__pos")
                        .rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0.0),
                )
            )
        ).alias("__term"),
    )
    return (
        termed.groupBy("__g")
        .agg(
            F.round(
                F.aggregate(
                    F.sort_array(
                        F.collect_list(F.struct("__pos", "__term"))
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x["__term"],
                ),
                6,
            ).alias("err_r6")
        )
        .withColumnRenamed("__g", group_col)
    )


def catalog_coverage_diversity(
    recs: DataFrame,
    catalog: DataFrame,
    user_col: str,
    item_col: str,
    attr_col: str,
) -> DataFrame:
    """Beyond-accuracy evaluation of a recommendation table (Ge et al.
    2010's coverage/serendipity framing) — the metrics the ranking
    family lacks: NDCG/ERR/AP score each LIST against relevance; these
    score the SYSTEM against the catalog. A recommender can win every
    per-list metric while showing everyone the same five blockbusters;
    these two numbers are where that failure shows up:

    - catalog coverage: distinct recommended items as ppm of the
      catalog — the long-tail exposure a marketplace actually sells;
    - intra-list diversity: over every user's list, the share of item
      PAIRS whose ``attr_col`` differs (ppm) — 0 means every list is
      monotone (five phones), 1e6 means maximally mixed.

    ``recs``: one row per (user, item); ``catalog``: one row per item
    with its attribute. Rows with a NULL item are excluded up front —
    a NULL is not a recommendable item, and the coverage distinct
    would otherwise count it as a catalog hit in one engine and not
    the other (COUNT(DISTINCT) skips NULL, a distinct-then-count does
    not). Counts are exact bigints; per-user pair counts
    come from k·(k−1)/2 and same-attr-group counts within the list —
    no pair join at all (Σ_g c_g·(c_g−1)/2 per user, subtracted).

    Scale: one distinct over recs, one broadcast attr join, one
    (user, attr) aggregate + one user aggregate + one global fold —
    the pair arithmetic is closed-form, never materialized."""
    r = (
        recs.select(
            F.col(user_col).alias("__u"), F.col(item_col).alias("__i")
        )
        .filter(F.col("__i").isNotNull())
        .distinct()
    )
    cov = r.select("__i").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_recommended_distinct")
    )
    cat = catalog.select(
        F.col(item_col).alias("__i"), F.col(attr_col).alias("__a")
    )
    n_cat = cat.agg(F.count(F.lit(1)).cast("bigint").alias("n_catalog"))
    joined = r.join(F.broadcast(cat), "__i")
    per_attr = joined.groupBy("__u", "__a").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    per_user = per_attr.groupBy("__u").agg(
        F.sum("__c").alias("__k"),
        F.sum(F.col("__c") * (F.col("__c") - 1)).alias("__same2"),
    )
    # __pairs2 / __same2s are TWICE the pair counts (Σk(k−1), Σc(c−1)):
    # keeping the doubled integers through the aggregate and dividing
    # once with integer `div` keeps every step an exact bigint — no
    # double division anywhere, so exactness holds past 2^53 pairs.
    totals = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.col("__k") * (F.col("__k") - 1))
        .cast("bigint")
        .alias("__pairs2"),
        F.sum(F.col("__same2")).cast("bigint").alias("__same2s"),
    )
    return (
        totals.crossJoin(F.broadcast(cov))
        .crossJoin(F.broadcast(n_cat))
        .select(
            "n_users",
            "n_catalog",
            "n_recommended_distinct",
            # (2·diff · 1e6) div (2·pairs) == floor(diff·1e6/pairs),
            # exactly, for non-negative integers
            F.expr("n_recommended_distinct * 1000000 div n_catalog")
            .cast("bigint")
            .alias("coverage_ppm"),
            F.when(F.col("__pairs2") == 0, F.lit(0))
            .otherwise(
                F.expr("(__pairs2 - __same2s) * 1000000 div __pairs2")
            )
            .cast("bigint")
            .alias("intralist_diversity_ppm"),
        )
    )

