"""Positional phrase search — the inverted-index primitive BM25 doesn't
cover: "these words ADJACENT, in this order". Built as positional
postings (doc, position, term) restricted to the phrase's terms, then
one equi-join per subsequent term on (doc, position + offset) — the
classic positional-index intersection, expressed relationally so
Catalyst plans hash joins over the (tiny) matched-posting relations.

Exactness: match counts are integers; the tokenizer is the shared
[a-z0-9]+ regex both engines run identically.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_RE = "[a-z0-9]+"


def phrase_match_counts(
    df: DataFrame,
    phrase: Sequence[str],
) -> DataFrame:
    """Documents containing the exact token phrase, with occurrence
    counts: (id, n_matches), ordered by (n_matches DESC, id ASC), cut
    to 15. A match is |phrase| consecutive tokens equal to the
    phrase, counted at every distinct start position (overlaps count).

    Scale: the postings build is one scan + explode PRUNED to the
    phrase's terms (an array_contains filter before posexplode keeps
    non-matching documents out of the explode entirely); each
    subsequent term joins on (doc, pos+offset) over matched postings
    only — the cost class of a positional-index lookup, not a corpus
    join. The cut is TakeOrderedAndProject."""
    terms = list(phrase)
    if len(terms) < 2:
        raise ValueError("phrase needs >= 2 terms (use a filter for 1)")
    term_arr = F.array(*[F.lit(t) for t in sorted(set(terms))])
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
    postings = (
        df.select(F.col("doc_id").alias("__id"), toks.alias("__toks"))
        .filter(F.exists("__toks", lambda t: F.array_contains(term_arr, t)))
        .select("__id", F.posexplode("__toks").alias("__pos", "__term"))
        .filter(F.array_contains(term_arr, F.col("__term")))
    )
    postings = postings.localCheckpoint(eager=False)
    starts = postings.filter(F.col("__term") == terms[0]).select(
        "__id", F.col("__pos").alias("__start")
    )
    for off, t in enumerate(terms[1:], start=1):
        nxt = postings.filter(F.col("__term") == t).select(
            F.col("__id"), (F.col("__pos") - off).alias("__start")
        )
        starts = starts.join(nxt, ["__id", "__start"])
    return (
        starts.groupBy(F.col("__id").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_matches"))
        .orderBy(F.col("n_matches").desc(), F.col("doc_id").asc())
        .limit(15)
    )
