"""PMI collocation mining — the corpus-linguistics primitive behind
phrase vocabularies and tokenizer pre-merges: adjacent token pairs whose
joint frequency beats the independence prediction of their unigram
frequencies (Church & Hanks 1990). A BPE merge table (operators/bpe.py)
learns collocations implicitly; this surfaces them explicitly with their
strength, the audit view a vocabulary build starts from.

Exactness: all frequencies are integer counts; PMI is a four-ln fixed
expression over those integers (never a product that could overflow —
ln(a·b) is computed as ln a + ln b), rounded once. DuckDB replays the
tokenization (same regex), the bigram construction (same positional
pairing), and the formula.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_RE = "[a-z0-9]+"


def pmi_bigrams(
    df: DataFrame,
    *,
    top_k: int = 15,
) -> DataFrame:
    """Top-``top_k`` adjacent-pair collocations by pointwise mutual
    information. Returns (w1, w2, n_pair, n_w1, n_w2, pmi_r6) ordered by
    (pmi_r6 DESC, w1, w2):

        pmi = ln p(w1,w2) − ln p(w1) − ln p(w2)
            = ln n_pair − ln N_pairs − ln n_w1 − ln n_w2 + 2·ln N_toks

    computed exactly in that five-term form (no big-integer products).
    A minimum pair count of 5 suppresses the degenerate high-PMI tail (a
    pair seen once between two hapaxes has maximal PMI and zero
    evidence).
    Ordering ties break on the ROUNDED pmi then words, so the top-k cut
    is identical across engines.

    Scale: tokenization is one scan; bigrams explode to ~|tokens| rows;
    both count relations aggregate with map-side combine; the two
    marginal joins are on the (much smaller) pair-vocabulary relation;
    the final cut is a TakeOrderedAndProject, never a global sort."""
    toks = df.select(
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(TOKEN_RE), 0
        ).alias("__toks")
    )
    toks = toks.filter(F.size("__toks") >= 2)
    # positional pairing via transform over the index sequence — stays
    # inside codegen, no posexplode self-join
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(__toks) - 2),"
                " i -> struct(__toks[i] AS w1, __toks[i+1] AS w2))"
            )
        ).alias("__b")
    ).select("__b.w1", "__b.w2")
    unigrams = df.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
        ).alias("__w")
    )
    uni = unigrams.groupBy("__w").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    n_toks = unigrams.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n_toks")
    )
    pair = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pair"))
        .filter(F.col("n_pair") >= 5)
    )
    n_pairs = bigrams.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n_pairs")
    )
    u1 = uni.select(F.col("__w").alias("w1"), F.col("__n").alias("n_w1"))
    u2 = uni.select(F.col("__w").alias("w2"), F.col("__n").alias("n_w2"))
    pmi = (
        F.log(F.col("n_pair").cast("double"))
        - F.log(F.col("__n_pairs").cast("double"))
        - F.log(F.col("n_w1").cast("double"))
        - F.log(F.col("n_w2").cast("double"))
        + F.lit(2.0) * F.log(F.col("__n_toks").cast("double"))
    )
    return (
        pair.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_pairs))
        .crossJoin(F.broadcast(n_toks))
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_w1",
            "n_w2",
            F.round(pmi, 6).alias("pmi_r6"),
        )
        .orderBy(F.col("pmi_r6").desc(), "w1", "w2")
        .limit(top_k)
    )


def llr_bigrams(
    df: DataFrame,
    *,
    min_count: int = 5,
    top_k: int = 15,
) -> DataFrame:
    """Top-``top_k`` adjacent-pair collocations by Dunning's
    log-likelihood ratio (Dunning 1993) — the SIGNIFICANCE-weighted
    companion to :func:`pmi_bigrams`: PMI rewards rarity (a pair of
    hapaxes maxes it out), LLR weighs the evidence, so the two lists
    disagree exactly where a phrase vocabulary needs adjudication.
    The 2×2 table is built from the BIGRAM relation's own marginals
    (first-word and second-word totals), so it is self-consistent:

        k11 = n(w1,w2)   k12 = n(w1,·) − k11
        k21 = n(·,w2) − k11   k22 = N − n(w1,·) − n(·,w2) + k11
        llr = 2 · Σ_ij k_ij · (ln k_ij + ln N − ln R_i − ln C_j)

    with every k an exact bigint, each term ln-decomposed (no integer
    products that could overflow), 0·ln0 ≡ 0 by a when-guard, terms
    summed in fixed (11, 12, 21, 22) order, one round at the end.
    Returns (w1, w2, n_pair, n_first, n_second, llr_r6) ordered by
    (llr_r6 DESC, w1, w2).

    Scale: same shape as PMI — one scan, vocabulary-sized pair
    aggregate, two marginal joins, TakeOrdered cut."""
    toks = df.select(
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(TOKEN_RE), 0
        ).alias("__toks")
    ).filter(F.size("__toks") >= 2)
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(__toks) - 2),"
                " i -> struct(__toks[i] AS w1, __toks[i+1] AS w2))"
            )
        ).alias("__b")
    ).select("__b.w1", "__b.w2")
    pair = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    first = bigrams.groupBy("w1").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_first")
    )
    second = bigrams.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_second")
    )
    n_tot = bigrams.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))

    def term(k, r, c):
        kd = k.cast("double")
        return F.when(
            k > 0,
            kd
            * (
                F.log(kd)
                + F.log(F.col("__n").cast("double"))
                - F.log(r.cast("double"))
                - F.log(c.cast("double"))
            ),
        ).otherwise(F.lit(0.0))

    k11 = F.col("n_pair")
    k12 = F.col("n_first") - k11
    k21 = F.col("n_second") - k11
    k22 = F.col("__n") - F.col("n_first") - F.col("n_second") + k11
    r1, r2 = F.col("n_first"), F.col("__n") - F.col("n_first")
    c1, c2 = F.col("n_second"), F.col("__n") - F.col("n_second")
    llr = F.lit(2.0) * (
        term(k11, r1, c1)
        + term(k12, r1, c2)
        + term(k21, r2, c1)
        + term(k22, r2, c2)
    )
    return (
        pair.join(first, "w1")
        .join(second, "w2")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_first",
            "n_second",
            F.round(llr, 6).alias("llr_r6"),
        )
        .orderBy(F.col("llr_r6").desc(), "w1", "w2")
        .limit(top_k)
    )
