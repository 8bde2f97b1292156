"""Split-conformal prediction-interval coverage — the
distribution-free trust gate over a per-group mean predictor: "90% of
held-out values fall inside the interval, no model assumptions". The
guarantee is only as good as its arithmetic, so this implementation
never divides in the decision path — the residual quantile rank and
the coverage predicate run on scaled bigints and replay bit-for-bit in
any engine. (The scorer-eval cousins — reliability/ECE, rank-sum
discrimination, Cohen's kappa — already live in operators/experiment:
``reliability_table_ece``, ``mann_whitney_u`` (rank-biserial =
2·AUC − 1), ``agreement_kappa``.)

Degenerate inputs yield NULL, never a throw (ANSI-safe).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def conformal_coverage(
    df: DataFrame,
    group_col: str,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Split-conformal coverage audit per group, integer-exact.

    The split is deterministic on the key: EVEN keys calibrate, ODD
    keys test. The per-group predictor is the calibration mean; the
    nonconformity score is the absolute residual; the interval
    half-width is the k-th smallest calibration residual with
    k = ⌈(1 − α)(n_calib + 1)⌉ at α = 1/10 — the classic split-conformal rank
    whose finite-sample guarantee is coverage ≥ 1 − α.

    NO DIVISION HAPPENS IN THE DECISION PATH: with S = Σ calib values
    and n = n_calib, the residual |x − S/n| is compared as the scaled
    bigint |x·n − S|, both for the quantile rank (ties broken by the
    key so the k-th element is well-defined and deterministic) and for
    the test predicate |x_t·n − S| ≤ q. When k > n (tiny calibration
    sets) the conformal interval is infinite: every test row is
    covered and the half-width reads NULL.

    Returns one row per group:

        (group_col, n_calib, n_test, n_covered, coverage_ppm,
         halfwidth_r6)

    ``coverage_ppm`` = n_covered·1e6 div n_test (exact floor ppm; NULL
    when the group has no test rows), ``halfwidth_r6`` = q/n in the
    value's own units. Groups with NO calibration rows predict nothing
    and are EXCLUDED from the audit (there is no interval to cover);
    calibration-only groups appear with n_test = 0 and NULL coverage.
    NULL values/keys are excluded up front; a NULL group is audited as
    its own class.

    Scale: one grouped moment aggregate (broadcast back — |groups|
    rows), one residual-rank window PARTITIONED BY GROUP over the
    calibration half only, one final grouped count over the test
    half. No data-sized joins beyond the broadcast of group stats.
    Magnitude guard: |x|·n_calib must stay under 2^63 (holds to
    ~9e12 calibration rows per group at 1e6-unit values; rescale the
    value units beyond)."""
    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(key_col).cast("bigint").alias("__k"),
        F.col(value_col).cast("bigint").alias("__x"),
    ).filter(F.col("__x").isNotNull() & F.col("__k").isNotNull())
    is_calib = F.pmod(F.col("__k"), F.lit(2)) == 0
    calib = base.filter(is_calib)
    test = base.filter(~is_calib)
    stats = calib.groupBy("__g").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__x").cast("bigint").alias("__sum"),
    )
    # k-th smallest scaled residual per group; rank ties broken by key
    from pyspark.sql import Window

    ranked = (
        calib.join(F.broadcast(stats), "__g")
        .withColumn(
            "__r", F.abs(F.col("__x") * F.col("__n") - F.col("__sum"))
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("__g").orderBy("__r", "__k")
            ),
        )
    )
    # k = ceil(9·(n + 1) / 10) in exact integers
    k = F.expr("(9 * (__n + 1) + 10 - 1) div 10")
    q = (
        ranked.filter(F.col("__rn") == k)
        .select("__g", F.col("__r").alias("__q"))
    )
    # k > n ⇒ no row matched ⇒ left join leaves __q NULL = infinite
    gstats = stats.join(F.broadcast(q), "__g", "left").withColumn(
        "__finite", F.col("__q").isNotNull()
    )
    # the only data-sized join, kept broadcastable: INNER test×gstats
    # (a test-only group has no interval to cover — excluded by
    # contract); calib-only groups re-enter via the tiny left join
    # below with n_test = 0
    scored = test.join(F.broadcast(gstats), "__g")
    covered = F.when(
        ~F.col("__finite")
        | (
            F.abs(F.col("__x") * F.col("__n") - F.col("__sum"))
            <= F.col("__q")
        ),
        1,
    ).otherwise(0)
    tstats = scored.groupBy("__g").agg(
        F.count(F.lit(1)).cast("bigint").alias("__nt"),
        F.sum(covered).cast("bigint").alias("__nc"),
    )
    out = gstats.join(F.broadcast(tstats), "__g", "left")
    n_test = F.coalesce(F.col("__nt"), F.lit(0)).cast("bigint")
    return out.select(
        F.col("__g").alias(group_col),
        F.col("__n").alias("n_calib"),
        n_test.alias("n_test"),
        F.when(n_test > 0, F.col("__nc")).alias("n_covered"),
        F.when(
            n_test > 0,
            F.expr("(__nc * 1000000) div __nt"),
        )
        .cast("bigint")
        .alias("coverage_ppm"),
        F.round(
            F.when(
                F.col("__finite"),
                F.col("__q").cast("double") / F.col("__n").cast("double"),
            ),
            6,
        ).alias("halfwidth_r6"),
    ).orderBy(group_col)
