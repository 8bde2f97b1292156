"""Skew mitigation: salted two-phase aggregation and salted broadcast join.

AQE's skew-join splitting handles most runtime skew; these operators are
for the cases planners can't fix: a HOT KEY in a groupBy (one reducer
gets the whole key) or a hot key in a join against a non-broadcastable
side. Salting spreads the hot key over ``n_salts`` partial groups at the
cost of a second (tiny) aggregation — the standard pattern at 100 TB.

Only decomposable aggregates can be salted (count → sum of counts,
sum → sum of sums, min/max → min/max of partials); the API takes the
partial and final expressions explicitly so composition is visible.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _content_salt(df: DataFrame, n_salts: int) -> Column:
    """Deterministic per-row salt in [0, n_salts): xxhash64 of every
    column of the row.

    NOT ``monotonically_increasing_id()``/``rand()``: those are
    nondeterministic across task attempts, and a salt feeding a shuffle
    must survive stage retries — on a fetch-failure re-run a row must
    land in the SAME partial group, or phase-1 local filtering (top-k)
    can drop/duplicate survivors. Content-hashing the full row is
    attempt-stable; exact-duplicate rows share a salt, which only
    (slightly) widens the spread of a key made of identical rows, never
    changes the result. Requires hashable column types (no MapType)."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))


def salted_count_sum(
    df: DataFrame,
    keys: Sequence[str],
    sum_col: str,
) -> DataFrame:
    """Skew-safe ``groupBy(keys).agg(count, sum)``.

    Phase 1 groups by (keys, salt) — the hot key's rows spread across
    16 reducers; phase 2 re-aggregates the ≤ 16 partials
    per key. The sum goes through DECIMAL so the two-phase result is
    bit-identical to the direct aggregation (and the oracle)."""
    salted = df.withColumn("__salt", _content_salt(df, 16))
    partial = salted.groupBy(*keys, "__salt").agg(
        F.count("*").alias("__pn"),
        F.sum(F.col(sum_col).cast("decimal(18,2)")).alias("__psum"),
    )
    return partial.groupBy(*keys).agg(
        F.sum("__pn").alias("n"),
        F.sum("__psum").cast("double").alias("total"),
    )


_JOIN_SALTS = 8


def salted_broadcast_left_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
) -> DataFrame:
    """Hot-key-safe join: replicate the SMALL side once per salt value and
    join on (key, salt). Useful when the big side's hot key would overflow
    a single task in a shuffle join and the small side is broadcastable
    anyway — the salt keeps per-task fan-out bounded even if the planner
    falls back to a shuffle join."""
    salts = small.sparkSession.range(_JOIN_SALTS).select(
        F.col("id").cast("long").alias("__salt")
    )
    small_rep = small.crossJoin(salts)  # |small| × _JOIN_SALTS replicas
    big_salted = big.withColumn("__salt", _content_salt(big, _JOIN_SALTS))
    joined = big_salted.join(
        F.broadcast(small_rep),
        [key, "__salt"],
        "left",
    )
    return joined.drop("__salt")


def salted_top_k(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    k: int = 10,
) -> DataFrame:
    """Skew-safe per-key top-k.

    The naive form — ``row_number() OVER (PARTITION BY keys ORDER BY
    ...)`` — is the one hot-key shape NO planner can fix: every row of a
    key must reach one task for the global rank, so a celebrity key
    serializes (measured: half the corpus on one key puts half the
    corpus in one window task; partial aggregation rescues groupBy but
    nothing rescues a window). Top-k, however, is salvageable because it
    is DECOMPOSABLE: phase 1 ranks within (keys, salt) — the hot key's
    rows spread over 16 tasks, each keeping its local top-k —
    and phase 2 re-ranks the ≤ 16·k survivors per key. Identical
    output to the naive window for any deterministic (total) ordering.

    ``order_by`` must be a total order (break ties — e.g. ``[F.desc(
    "value"), F.asc("event_id")]``) or neither form is well-defined."""
    order_cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    salted = df.withColumn("__salt", _content_salt(df, 16))
    w1 = Window.partitionBy(*keys, "__salt").orderBy(*order_cols)
    survivors = (
        salted.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
        .drop("__salt", "__r1")
    )
    w2 = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        survivors.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
    )
