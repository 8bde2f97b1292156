"""Text-analysis operators for large-scale training-data pipelines.

Everything here is built from JVM-side ``pyspark.sql.functions`` (split,
higher-order array functions, regexp_count, xxhash64, md5) — no Python
UDFs — so a 100 TB corpus scan stays inside whole-stage codegen with zero
shuffles. These operators extend the reference's surface (its text handling
stops at sentinel cleanup, reference README.md:371); they are the
LLM-pipeline extensions called for by the project charter (SURVEY.md §2.12).

Operators:
- tokenization + token counting (whitespace and BPE-ish regex piece count)
- quality scoring (length / punctuation / digit / stopword ratios)
- language ID (stopword-hit n-gram heuristic over token arrays)
- document fingerprinting (normalized md5; xxhash64 rolling variant)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny per-language stopword inventories for the heuristic language ID.
#: Deliberately small and alphabetical: the operator is a deterministic
#: argmax over hit counts, not a statistical model.
LANG_STOPWORDS: dict[str, list[str]] = {
    "de": ["das", "der", "die", "ist", "nicht", "und"],
    "en": ["and", "is", "of", "that", "the", "to"],
    "es": ["de", "el", "es", "la", "que", "y"],
    "fr": ["de", "est", "et", "la", "le", "que"],
}

#: BPE-ish piece pattern: runs of word chars OR single non-space symbols.
TOKEN_PIECE_RE = r"\w+|[^\w\s]"


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization as an array column (empty-safe)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def token_count(text: Column | str) -> Column:
    """Whitespace token count (int)."""
    return F.size(tokens(text))


def piece_count(text: Column | str) -> Column:
    """BPE-ish piece count: word runs + standalone punctuation symbols."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(TOKEN_PIECE_RE)).cast("int")


def char_len(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.length(c).cast("int")


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are punctuation-ish symbols."""
    c = F.col(text) if isinstance(text, str) else text
    return (
        F.regexp_count(c, F.lit(r"[^\w\s]")).cast("double")
        / F.greatest(F.length(c), F.lit(1)).cast("double")
    )


def digit_ratio(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return (
        F.regexp_count(c, F.lit(r"[0-9]")).cast("double")
        / F.greatest(F.length(c), F.lit(1)).cast("double")
    )


def stopword_hits(text: Column | str, stopwords: list[str]) -> Column:
    """Number of tokens (with multiplicity) present in ``stopwords``."""
    toks = tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    sw = F.array(*[F.lit(s) for s in sorted(stopwords)])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))


def stopword_ratio(text: Column | str) -> Column:
    return stopword_hits(text, LANG_STOPWORDS["en"]).cast("double") / F.greatest(
        token_count(text), F.lit(1)
    ).cast("double")


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: rewards stopword presence and a
    sane mean token length, penalizes punctuation/digit noise. Weights are
    fixed so the score is deterministic and oracle-expressible."""
    ntok = token_count(text).cast("double")
    mean_tok_len = char_len(text).cast("double") / F.greatest(ntok, F.lit(1.0))
    len_ok = F.when((mean_tok_len >= 3.0) & (mean_tok_len <= 12.0), 1.0).otherwise(0.0)
    score = (
        F.lit(0.4) * F.least(stopword_ratio(text) * 4.0, F.lit(1.0))
        + F.lit(0.3) * len_ok
        + F.lit(0.2) * (F.lit(1.0) - F.least(punct_ratio(text) * 5.0, F.lit(1.0)))
        + F.lit(0.1) * (F.lit(1.0) - F.least(digit_ratio(text) * 5.0, F.lit(1.0)))
    )
    return F.round(score, 6)


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID: argmax of per-language stopword hits.

    Deterministic tie-break: languages evaluated in sorted code order and
    a strictly-greater comparison, so the alphabetically-first language
    wins ties; zero hits everywhere → 'und'.
    """
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for code in sorted(LANG_STOPWORDS):
        hits = stopword_hits(text, LANG_STOPWORDS[code])
        is_better = hits > best_hits
        best_lang = F.when(is_better, F.lit(code)).otherwise(best_lang)
        best_hits = F.when(is_better, hits).otherwise(best_hits)
    return best_lang


def normalize_text(text: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapsed whitespace."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint_md5(text: Column | str) -> Column:
    """Content fingerprint: md5 of the normalized text (exact-dup key)."""
    return F.md5(normalize_text(text))


# ---------------------------------------------------------------- PII


EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9() -]{6,}[0-9]"


def pii_counts(text: Column | str) -> tuple[Column, Column]:
    """(n_emails, n_phones) found in the text — the audit plane of
    redaction: counts survive into curation reports while the redacted
    text replaces the original."""
    col = F.col(text) if isinstance(text, str) else text
    return (
        F.size(F.regexp_extract_all(col, F.lit(EMAIL_RE), 0)),
        F.size(F.regexp_extract_all(col, F.lit(PHONE_RE), 0)),
    )


def redact_pii(text: Column | str) -> Column:
    """Mask emails then phone-shaped digit runs — regex-only (RE2-safe
    patterns, no backreferences), so redaction runs scan-side in codegen
    over the whole corpus; order matters (emails first so their digits
    don't half-match the phone pattern)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(
        F.regexp_replace(col, EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"
    )


# ------------------------------------------------------------- repetition


def dup_trigram_frac(text: Column | str) -> Column:
    """Gopher-style duplicate-trigram fraction: 1 - distinct/total word
    trigrams (0.0 for texts under 3 tokens).

    Subexpression elimination is DISABLED inside higher-order-function
    lambdas, so a naive ``transform(sequence(...), i -> slice(tokens,...))``
    re-evaluates the tokenize expression per gram — O(tokens²) per row.
    Binding each intermediate (tokens, then the gram list) as a lambda
    VARIABLE of a single-element ``transform`` forces one evaluation per
    row, keeping the whole thing a linear scan-side expression."""
    col = F.col(text) if isinstance(text, str) else text
    toks = F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")

    def _frac_of_grams(g: Column) -> Column:
        return F.when(
            F.size(g) > 0,
            F.lit(1.0) - F.size(F.array_distinct(g)).cast("double") / F.size(g),
        ).otherwise(F.lit(0.0))

    def _grams_of(t: Column) -> Column:
        return F.when(
            F.size(t) >= 3,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - 3),
                lambda i: F.concat_ws(" ", F.slice(t, i + 1, 3)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.get(
        F.transform(
            F.array(toks),
            lambda t: F.get(
                F.transform(F.array(_grams_of(t)), _frac_of_grams), 0
            ),
        ),
        0,
    )


def linear_quality_margin(text: Column | str) -> Column:
    """Model-based quality gate: the integer margin of a linear
    classifier over exact count features —

        margin = 3000·stopword_hits − 2000·punct_chars
               − 2000·digit_chars − 100·n_tokens

    with ``margin >= 0`` meaning "keep". The shape is a trained linear
    quality filter (fastText-style: weighted counts vs a length
    regularizer); the weights here are fixed milli-units standing in for
    learned coefficients, so the operator is deterministic and
    SQL-oracle-expressible. The n_tokens term is the per-token prior
    that makes the gate density-based (stopword signal must outrun
    document length) WITHOUT any division — ratios would force
    double math or floor division, and Spark's ``div`` truncates toward
    zero while DuckDB's ``//`` floors, which diverges on negative
    numerators; a pure integer dot product is bit-identical everywhere
    and still sorts documents by classifier confidence."""
    c = F.col(text) if isinstance(text, str) else text
    stop = stopword_hits(c, LANG_STOPWORDS["en"]).cast("bigint")
    punct = F.regexp_count(c, F.lit(r"[^\w\s]")).cast("bigint")
    digits = F.regexp_count(c, F.lit(r"[0-9]")).cast("bigint")
    ntok = token_count(c).cast("bigint")
    return (
        F.lit(3000) * stop
        + F.lit(-2000) * punct
        + F.lit(-2000) * digits
        + F.lit(-100) * ntok
    ).cast("bigint")


def adjacent_pair_counts(
    df: DataFrame,
    *,
    top_n: int = 50,
) -> DataFrame:
    """Corpus-wide adjacent-token-pair frequencies — the statistic the
    first BPE/WordPiece merge step ranks on (most frequent adjacent
    pair wins the merge). Tokens are the lowercased whitespace words
    of ``text``;
    returns the ``top_n`` pairs as (pair, n), ordered by
    (n DESC, pair ASC) for a deterministic cut.

    Scale: the pair explosion is per-row expression work (zip of the
    token array with its own tail — no join); the count shuffles
    vocabulary-sized partial aggregates, and the global cut is
    TakeOrdered (per-partition top-n, then a |partitions|×top_n merge
    on the driver — never a full sort)."""
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        df.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(int(top_n))
    )


def mattr(
    text: Column | str, window: int = 25
) -> tuple[Column, Column]:
    """Moving-average type-token ratio (Covington & McFall 2010) —
    the length-robust lexical-diversity signal plain TTR is not:
    the mean over all ``window``-token sliding windows of
    (distinct tokens in window) / window.

    Returns (n_windows, mattr) column pair. Documents shorter than
    ``window`` have NO windows: both columns are NULL for them (never a
    negative count or a 0/garbage score), so an unfiltered caller gets
    honest NULLs; callers wanting only scoreable documents filter on
    ``n_windows IS NOT NULL`` / token count ≥ window. Plain TTR is the
    degenerate fallback, deliberately not silently substituted here.

    Exactness: the per-window distinct counts are INTEGERS summed
    exactly (fold order irrelevant), and the only float operation is
    the single final division — bit-identical cross-engine. Cost is a
    per-row expression, O(n_tokens * window) with no shuffle; the
    token array is bound as a lambda VARIABLE (the dup_trigram_frac
    discipline above) so tokenization runs once per row, not once per
    window."""
    col = F.col(text) if isinstance(text, str) else text
    toks = F.filter(F.split(col, r"\s+"), lambda t: t != "")

    def _stats(t: Column) -> Column:
        n = F.size(t)
        # guard BEFORE sequence(): Spark's sequence(1, x) with x < 1
        # descends (1, 0, -1, ...) and slice(start=0) throws
        starts = F.when(
            n >= window, F.sequence(F.lit(1), n - F.lit(window - 1))
        ).otherwise(F.array().cast("array<int>"))
        dsum = F.aggregate(
            F.transform(
                starts,
                lambda i: F.size(F.array_distinct(F.slice(t, i, window))),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x.cast("bigint"),
        )
        return F.struct(
            # NULL (not a negative count) below the window size — the
            # guard the unfiltered-caller contract promises
            F.when(n >= window, (n - F.lit(window - 1)).cast("bigint"))
            .otherwise(F.lit(None).cast("bigint"))
            .alias("nw"),
            dsum.alias("ds"),
        )

    st = F.get(F.transform(F.array(toks), _stats), 0)
    n_windows = st["nw"]
    score = F.round(
        st["ds"].cast("double")
        / (F.lit(float(window)) * n_windows.cast("double")),
        6,
    )
    return n_windows, score


def good_turing_coverage(df: DataFrame, group_col: str) -> DataFrame:
    """Good-Turing frequency-of-frequencies per group over the adjacent
    bigrams of ``text`` — the coverage estimate the smoothing family
    lacks: the unigram/bigram LMs answer "how probable is this text",
    TF-IDF and PMI rank what was SEEN; Good-Turing asks "how much probability
    mass belongs to bigrams we have NOT seen yet" (P₀ = N₁/N, Turing's
    estimate) and how hard observed counts should be discounted
    (r* = (r+1)·N_{r+1}/N_r) — the statistic behind Katz backoff and
    the standard "is this corpus slice big enough" reading (a high
    unseen mass says the slice undersamples its domain).

    Bigrams, not unigrams, deliberately: the test corpus's unigram
    vocabulary is closed (every word repeats), so unigram N₁ would be
    degenerate zeros; the bigram table keeps a live singleton tail at
    every SF. Output per group: n_bigrams (N), vocab (distinct), n1,
    n2, n3 (hapax/dis/tris legomena), p0_unseen_r6, r_star_1_r6,
    r_star_2_r6 (0.0 where the denominator count is 0, made explicit
    rather than NULL).

    Engine-portability: every N_r is an exact bigint; the three
    doubles are single divisions of those integers, one round each.

    Scale: per-row pair explosion (zip with own tail, no join) → one
    vocabulary-sized (group, bigram) partial aggregate → one per-group
    aggregate. No sort, no window."""
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    counts = (
        df.select(F.col(group_col).alias("__g"), F.explode(pairs).alias("__p"))
        .groupBy("__g", "__p")
        .agg(F.count(F.lit(1)).cast("long").alias("__r"))
    )

    def _nr(r: int) -> Column:
        return F.sum(F.when(F.col("__r") == r, 1).otherwise(0)).cast(
            "bigint"
        )

    per_group = counts.groupBy("__g").agg(
        F.sum("__r").cast("bigint").alias("n_bigrams"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        _nr(1).alias("n1"),
        _nr(2).alias("n2"),
        _nr(3).alias("n3"),
    )

    def _ratio(num: Column, den: Column) -> Column:
        return F.when(den == 0, F.lit(0.0)).otherwise(
            num.cast("double") / den.cast("double")
        )

    return per_group.select(
        F.col("__g").alias(group_col),
        "n_bigrams",
        "vocab",
        "n1",
        "n2",
        "n3",
        F.round(_ratio(F.col("n1"), F.col("n_bigrams")), 6).alias(
            "p0_unseen_r6"
        ),
        F.round(
            _ratio(F.lit(2) * F.col("n2"), F.col("n1")), 6
        ).alias("r_star_1_r6"),
        F.round(
            _ratio(F.lit(3) * F.col("n3"), F.col("n2")), 6
        ).alias("r_star_2_r6"),
    )


_LADDER_PPM = (100_000, 250_000, 500_000, 1_000_000)


def vocab_growth_ladder(df: DataFrame, id_col: str) -> DataFrame:
    """Heaps'-law vocabulary growth of ``text`` over an id-ordered
    prefix ladder — the "is the corpus still discovering words" reading
    beside Good-Turing's unseen-mass one: V(N) ≈ K·N^β, so the
    vocabulary at the first 10% / 25% / 50% / 100% of the id space (an append-log's
    natural prefixes) plus the fitted β between the last two rungs
    says whether doubling the crawl still buys vocabulary (β near the
    text-corpus 0.5 band) or the domain is closed (β → 0, this
    synthetic corpus's regime).

    Prefixes cut on the ID SPACE (id ≤ floor(max_id · ppm / 1e6), one
    broadcast max), not on a rank — no global sort, exact integers.
    Output: ONE row with n_docs_i / n_tokens_i / vocab_i per rung and
    heaps_beta_r6 = ln(V₄/V₃) / ln(N₄/N₃) over token counts (0.0 when
    degenerate, made explicit).

    Scale: one token explosion scanned ONCE with conditional
    aggregates per rung (|ladder| distinct-counts — a fixed expand
    factor, the documented cost of the ladder), one broadcast max."""
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    exploded = df.select(
        F.col(id_col).alias("__id"), F.explode(toks).alias("__t")
    )
    mx = df.agg(F.max(F.col(id_col)).cast("long").alias("__mx"))
    tagged = exploded.crossJoin(F.broadcast(mx))
    aggs = []
    for i, ppm in enumerate(_LADDER_PPM, start=1):
        cut = F.floor(F.col("__mx") * F.lit(ppm) / F.lit(1_000_000))
        hit = F.col("__id") <= cut
        aggs += [
            F.count_distinct(F.when(hit, F.col("__id")))
            .cast("bigint")
            .alias(f"n_docs_{i}"),
            F.sum(F.when(hit, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_tokens_{i}"),
            F.count_distinct(F.when(hit, F.col("__t")))
            .cast("bigint")
            .alias(f"vocab_{i}"),
        ]
    wide = tagged.agg(*aggs)
    last, prev = len(_LADDER_PPM), len(_LADDER_PPM) - 1
    v4, v3 = F.col(f"vocab_{last}"), F.col(f"vocab_{prev}")
    n4, n3 = F.col(f"n_tokens_{last}"), F.col(f"n_tokens_{prev}")
    beta = F.when(
        (v3 > 0) & (v4 > 0) & (n3 > 0) & (n4 > 0) & (n4 != n3),
        F.log(v4.cast("double") / v3.cast("double"))
        / F.log(n4.cast("double") / n3.cast("double")),
    ).otherwise(F.lit(0.0))
    return wide.select("*", F.round(beta, 6).alias("heaps_beta_r6"))
