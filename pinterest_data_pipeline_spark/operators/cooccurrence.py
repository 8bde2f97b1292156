"""Item-item co-occurrence mining — the counting core of a
collaborative-filtering candidate generator ("users who engaged with A
also engaged with B"), over any (user, item) interaction relation.

The similarity is cosine over binary user-interaction vectors, which
reduces to pure counts: ``n_ab / sqrt(n_a · n_b)`` for pair co-count
``n_ab`` and item degrees ``n_a``/``n_b`` — no embedding, no floats
until the single final division, so the whole operator is
exact-counting and SQL-oracle-checkable.

Scale shape (the classic CF shuffle): pairs are generated PER USER from
each user's item set — one shuffle keyed by user, fan-out bounded by
the per-user cap — then aggregated by (item_a, item_b). The item-degree
relation is |items| rows (orders of magnitude smaller than
interactions) and broadcasts back onto the pair counts. Nothing ever
joins |items| × |items|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def item_cooccurrence(
    interactions: DataFrame,
    max_items_per_user: int | None = None,
    min_pair_count: int = 1,
) -> DataFrame:
    """Co-occurrence cosine over distinct (user, item) interactions.

    Returns (item_a, item_b, n_ab, n_a, n_b, cosine_r6) for unordered
    pairs ``item_a < item_b`` with ``n_ab ≥ min_pair_count``.

    ``max_items_per_user`` is the power-user guard: a user who touched
    k items contributes k·(k−1)/2 pairs, so one crawler/bot account
    with 10⁵ items would emit 5·10⁹ pairs from a single shuffle key.
    The cap keeps each user's ``max_items_per_user`` smallest item ids
    (deterministic min-k retention — the LSH bucket-cap discipline from
    operators/dedup: degrade by a documented rule, never sample
    nondeterministically). Degrees ``n_a`` count the CAPPED relation so
    the cosine stays internally consistent.
    """
    ui = interactions.select(
        F.col("user_id").alias("__u"), F.col("item_id").alias("__i")
    ).distinct()
    if max_items_per_user is not None:
        w = Window.partitionBy("__u").orderBy(F.col("__i").asc())
        ui = (
            ui.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_items_per_user)
            .drop("__rn")
        )
    # Materialize the capped interaction relation: four downstream
    # branches read it (both pair sides, both degree sides), and without
    # the barrier each branch re-runs the interactions scan + distinct +
    # cap window — 4 corpus scans at 100 TB (the duplicate_clusters
    # lesson, operators/dedup.py). Same for the |items|-row degree
    # relation, whose aggregate would otherwise run once per broadcast.
    ui = ui.localCheckpoint(eager=False)
    degrees = (
        ui.groupBy(F.col("__i").alias("item"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=False)
    )
    a = ui.select("__u", F.col("__i").alias("item_a"))
    b = ui.select("__u", F.col("__i").alias("item_b"))
    pairs = (
        a.join(b, "__u")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_count)
    )
    da = degrees.select(
        F.col("item").alias("item_a"), F.col("n").alias("n_a")
    )
    db = degrees.select(
        F.col("item").alias("item_b"), F.col("n").alias("n_b")
    )
    return (
        pairs.join(da, "item_a")
        .join(db, "item_b")
        .select(
            "item_a",
            "item_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.col("n_ab").cast("double")
                / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double")),
                6,
            ).alias("cosine_r6"),
        )
    )


def association_rules(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    *,
    top_k: int = 20,
) -> DataFrame:
    """Pairwise association rules (the Apriori support/confidence/lift
    layer, Agrawal-Srikant 1994) — the RULE reading beside this
    module's similarity one: co-occurrence CF answers "which items are
    alike", a rule answers "given a in the basket, how much likelier
    is b" — the cross-sell / bundling statistic, directional by
    construction (a→b and b→a differ in confidence).

        supp(a,b) = baskets containing both (distinct-basket counts)
        conf(a→b) = supp(a,b) / supp(a)
        lift      = supp(a,b) · N / (supp(a) · supp(b))

    All supports are exact bigints; conf/lift are single fixed-tree
    divisions, rounded once; both rule directions are emitted and the
    cut orders by (lift_r6 DESC, antecedent, consequent), ties fully
    broken, so the top-k is engine-identical.

    Scale: one (basket, item) distinct, one SELF-JOIN ON THE BASKET
    KEY (fan-out bounded by basket size squared — baskets are small by
    domain, never corpus-sized), vocabulary-sized pair/item
    aggregates, broadcast marginal joins, TakeOrdered cut."""
    bi = baskets.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).distinct()
    n_baskets = bi.select("__b").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    item_supp = bi.groupBy("__i").agg(
        F.count(F.lit(1)).cast("bigint").alias("__s")
    )
    l, r = bi.alias("l"), bi.alias("r")
    pair_supp = (
        l.join(
            r,
            (F.col("l.__b") == F.col("r.__b"))
            & (F.col("l.__i") < F.col("r.__i")),
        )
        .groupBy(
            F.col("l.__i").alias("__a"), F.col("r.__i").alias("__c")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_support"))
        .filter(F.col("pair_support") >= 2)
    )
    directed = pair_supp.select(
        F.col("__a").alias("antecedent"),
        F.col("__c").alias("consequent"),
        "pair_support",
    ).unionByName(
        pair_supp.select(
            F.col("__c").alias("antecedent"),
            F.col("__a").alias("consequent"),
            "pair_support",
        )
    )
    sa = item_supp.select(
        F.col("__i").alias("antecedent"),
        F.col("__s").alias("antecedent_support"),
    )
    sc = item_supp.select(
        F.col("__i").alias("consequent"),
        F.col("__s").alias("consequent_support"),
    )
    conf = F.col("pair_support").cast("double") / F.col(
        "antecedent_support"
    ).cast("double")
    lift = (
        F.col("pair_support").cast("double")
        * F.col("__n").cast("double")
        / (
            F.col("antecedent_support").cast("double")
            * F.col("consequent_support").cast("double")
        )
    )
    return (
        directed.join(sa, "antecedent")
        .join(sc, "consequent")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "antecedent",
            "consequent",
            "pair_support",
            "antecedent_support",
            "consequent_support",
            F.round(conf, 6).alias("confidence_r6"),
            F.round(lift, 6).alias("lift_r6"),
        )
        .orderBy(
            F.col("lift_r6").desc(), "antecedent", "consequent"
        )
        .limit(top_k)
    )
