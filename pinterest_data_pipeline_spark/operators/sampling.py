"""Deterministic corpus sampling for training-data pipelines.

Random sampling via RNG is partition-order-dependent and unreproducible
across engines/retries; both operators here derive their "randomness"
from content hashes instead, which is the standard distributed-sampling
trick: every engine, every retry, every round picks the same rows.

- :func:`stratified_sample_exact` — exactly min(k, |stratum|) rows per
  stratum, chosen by md5 order (uniform, deterministic). One shuffle on
  the stratum key; ``WindowGroupLimit`` pushes the top-k below the
  exchange, so the shuffle payload is ~k rows per stratum, not the corpus.
- :func:`repeat_by_weight` — integer up-sampling per domain (the "epochs
  per source" mixture lever, e.g. 3 passes of wiki vs 1 of web). A
  broadcast join attaches the weight and an exploded ``sequence`` emits
  the copies; no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def stratified_sample_exact(
    df: DataFrame, stratum_col: str, id_col: str, k: int
) -> DataFrame:
    """Exactly min(k, stratum size) rows per stratum, deterministic.

    Order within a stratum is md5(id) — uniform pseudo-random yet stable
    across runs, partitionings, and engines (md5 agrees everywhere, unlike
    xxhash64/rand seeds). Output adds ``sample_rank`` (1-based within the
    stratum)."""
    order_key = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(stratum_col).orderBy(order_key, F.col(id_col))
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
    )


def repeat_by_weight(
    df: DataFrame, domain_col: str, weights: dict[str, int]
) -> DataFrame:
    """Replicate each row ``weights[domain]`` times (once for unlisted
    domains; weight 0 drops the domain). Adds ``copy_id``
    (1..weight). The weight table is driver-side metadata broadcast into
    the scan stage — row replication happens executor-side in the explode,
    never by unioning N scans."""
    spark = df.sparkSession
    wdf = F.broadcast(
        spark.createDataFrame(
            [(k, int(v)) for k, v in weights.items()],
            f"{domain_col} string, __weight int",
        )
    )
    return (
        df.join(wdf, domain_col, "left")
        .withColumn("__weight", F.coalesce("__weight", F.lit(1)))
        .filter(F.col("__weight") > 0)
        .withColumn("copy_id", F.explode(F.sequence(F.lit(1), F.col("__weight"))))
        .drop("__weight")
    )


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test assignment by content hash.

    The first two hex chars of ``md5(id)`` are uniform over 256 buckets;
    string comparison against the (hex, zero-padded, lowercase) upper
    bounds carves them into test [00, 0d), val [0d, 1a), train
    [1a, ff]: ~5.1% / ~5.1% / ~89.8%. Adds a ``split`` column.

    Why not ``rand(seed)``: RNG sampling is partition-order-dependent —
    a retry, a different file split, or a different engine reassigns
    rows. md5 of the id is pure content addressing: every engine, every
    retry, every round lands each row in the same split, and late-arriving
    data never reshuffles earlier assignments. Zero shuffle: the split is
    a per-row expression the optimizer pushes into the scan stage."""
    prefix = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    return df.withColumn(
        "split",
        F.when(prefix < "0d", F.lit("test"))
        .when(prefix < "1a", F.lit("val"))
        .otherwise(F.lit("train")),
    )


def deterministic_shuffle(
    df: DataFrame,
    *,
    n_shards: int = 16,
) -> DataFrame:
    """Content-addressed global shuffle: assign every row a shard and a
    position inside it, both derived from ``md5(doc_id)`` — the
    reproducible "shuffle the corpus before training" step.

    Like :func:`hash_split`, this deliberately avoids ``rand(seed)``
    and ``orderBy(rand())``: RNG order is partition-layout-dependent,
    so a retry or re-read would feed the trainer a different example
    order. Hash order is a pure function of row identity.

    Shard = integer value of the first two md5 hex chars (via strpos
    arithmetic — portable to any ANSI engine, unlike Spark's
    ``conv``/murmur ``hash``) mod ``n_shards``; position = rank of the
    md5 digest within the shard.

    Scale: one shuffle on ``shard``; md5 uniformity keeps the
    ``n_shards`` window partitions balanced, and ``n_shards`` is chosen
    ~ cluster parallelism. For writing actual training files you'd
    instead ``repartition(n_shards, shard).sortWithinPartitions(h)`` —
    same layout, no rank materialized; the rank here makes the order
    oracle-checkable."""
    hexpos = "instr('0123456789abcdef', substring(__h, {i}, 1)) - 1"
    h = F.md5(F.col("doc_id").cast("string"))
    win = Window.partitionBy("shard").orderBy("__h", "doc_id")
    return (
        df.withColumn("__h", h)
        .withColumn(
            "shard",
            F.expr(
                f"pmod(({hexpos.format(i=1)}) * 16 + ({hexpos.format(i=2)}),"
                f" {int(n_shards)})"
            ).cast("int"),
        )
        .withColumn("pos", F.row_number().over(win))
        .drop("__h")
    )


def sqrt_temperature_shares(
    df: DataFrame, part_col: str
) -> DataFrame:
    """Temperature-scaled mixture planning at T=2 (the multilingual
    rebalancing rule: sample source i with probability ∝ n_i^(1/2),
    boosting low-resource sources relative to their raw share): per
    ``part_col`` value, the corpus count, its square-root weight, and
    the normalized target share.

    Exactness contract: T=2 specifically because ``sqrt`` is
    IEEE-754-exact (correctly rounded) in every engine, unlike libm
    ``pow``, whose last ulp differs across implementations and would
    break cross-engine value hashes at other temperatures. The
    normalizer folds the per-source weights in SORTED ``part_col``
    order (sort_array + sequential ``aggregate``), so the double sum is
    order-deterministic and reproducible by an ordered list fold on the
    oracle side; outputs round to 6dp (the repo's engine-portable
    rounding).

    Scale: one partial-combinable count per source, then everything runs
    on the |sources|-row aggregate — a broadcast crossJoin of one row.
    The plan's output feeds :func:`repeat_by_weight` (integer epochs) or
    a Bernoulli sampler downstream."""
    counts = df.groupBy(part_col).agg(F.count(F.lit(1)).alias("n_docs"))
    norm = counts.agg(
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct(F.col(part_col), F.col("n_docs")))
            ),
            F.lit(0.0),
            lambda acc, x: acc + F.sqrt(x["n_docs"].cast("double")),
        ).alias("__norm")
    )
    return (
        counts.crossJoin(F.broadcast(norm))
        .select(
            part_col,
            "n_docs",
            F.round(F.sqrt(F.col("n_docs").cast("double")), 6).alias("w_r6"),
            F.round(
                F.sqrt(F.col("n_docs").cast("double")) / F.col("__norm"), 6
            ).alias("share_r6"),
        )
    )


def token_budget_selection(
    df: DataFrame,
    budget: int,
) -> DataFrame:
    """Budget-bounded corpus selection: keep the prefix of documents in
    global (``margin`` DESC, ``doc_id`` ASC) order whose running
    token total stays within ``budget`` — the "best data under a token
    budget" curation stage of an LLM pipeline. Returns the selected rows
    with their running total (``cum_tokens``).

    Scale: a naive global running sum is a single-partition window —
    dead at 100 TB. This is three-level instead: (1) one partial-combined
    aggregate per distinct margin gives the bucket totals; (2) the
    cumulative-before-bucket prefix is computed hierarchically — margins
    roll up into 2^20-wide COARSE ranges, the only global-ordered window
    runs over the |coarse ranges| relation (bounded by the margin value
    RANGE / 2^20, not by corpus diversity — a diverse corpus can have
    ~1e8 distinct margins, which would make a per-margin global window a
    single fat sort task), and each margin adds its within-coarse prefix
    under a PARTITIONED window; (3) only buckets the budget reaches
    survive the join back (|selected margins| rows), and the exact
    per-row running sum is a window PARTITIONED BY margin.
    That join broadcasts the eligible-margin relation, which holds
    whenever the budget selects a driver-memory-sized set of distinct
    margins (a budget covering most of a corpus with ~1e8 distinct
    margins would exceed driver limits).
    Selection semantics are identical to the single-window formulation
    (the oracle uses that formulation as the cross-check). All
    arithmetic is integer, so engines agree bit-for-bit."""
    per_margin = df.groupBy("margin").agg(
        F.sum(F.col("n_tokens").cast("bigint")).alias("__bucket_tokens")
    )
    # floor (not truncate) so negative margins bucket monotonically;
    # margins are < 2^53 so the double division is exact enough for a
    # 2^20-wide floor
    coarse = F.floor(F.col("margin") / F.lit(float(1 << 20))).cast("long")
    per_margin = per_margin.withColumn("__coarse", coarse)
    per_coarse = per_margin.groupBy("__coarse").agg(
        F.sum("__bucket_tokens").alias("__coarse_tokens")
    )
    wc = Window.orderBy(F.col("__coarse").desc())
    coarse_before = per_coarse.withColumn(
        "__coarse_before",
        F.coalesce(
            F.sum("__coarse_tokens").over(
                wc.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("bigint"),
        ),
    ).select("__coarse", "__coarse_before")
    wm = Window.partitionBy("__coarse").orderBy(F.col("margin").desc())
    cum_before = (
        per_margin.join(F.broadcast(coarse_before), "__coarse")
        .withColumn(
            "__cum_before",
            F.col("__coarse_before")
            + F.coalesce(
                F.sum("__bucket_tokens").over(
                    wm.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("bigint"),
            ),
        )
    )
    # <= (not <): a bucket whose prefix EQUALS the budget can still
    # contribute zero-token rows (cum == budget passes the final
    # filter); < would silently diverge from the single-window
    # formulation at exact-budget boundaries on 0-token documents
    eligible = cum_before.filter(F.col("__cum_before") <= F.lit(int(budget)))
    wd = Window.partitionBy("margin").orderBy(F.col("doc_id").asc())
    eligible_rel = eligible.select("margin", "__cum_before")
    return (
        df.join(F.broadcast(eligible_rel), "margin")
        .withColumn(
            "cum_tokens",
            F.col("__cum_before")
            + F.sum(F.col("n_tokens").cast("bigint")).over(wd),
        )
        .filter(F.col("cum_tokens") <= F.lit(int(budget)))
        .select("doc_id", "margin", "n_tokens", "cum_tokens")
    )


def epoch_capped_mixture(
    df: DataFrame,
    source_col: str,
    tokens_col: str,
    budget: int,
) -> DataFrame:
    """Token-budget mixture planning with per-source epoch caps
    (water-filling): each source asks for a share of ``budget``
    proportional to ``sqrt(n_docs)`` (the T=2 low-resource boost of
    :func:`sqrt_temperature_shares`), but no source may be allocated
    more than two passes over its own tokens; one fixed
    redistribution round hands capped sources' surplus to the uncapped
    ones by the same rule. Returns per source: doc/token counts, the
    cap, the final allocation, and epochs (6dp).

    Exactness contract: allocations are integers (floor of a double
    ask), caps and leftovers are exact integer sums, and both
    normalizers fold sqrt weights in SORTED source order — the
    engine-portable discipline of :func:`sqrt_temperature_shares`, so a
    SQL oracle replays the plan bit-for-bit.

    Scale: one partial-combinable aggregate per source; every later
    step runs on the |sources|-row relation with 1-row broadcast
    normalizers."""
    counts = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(tokens_col).cast("bigint")).alias("n_tokens"),
    )
    w = F.sqrt(F.col("n_docs").cast("double"))
    cap = (F.col("n_tokens") * F.lit(2)).cast("bigint")
    norm1 = counts.agg(
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct(F.col(source_col), F.col("n_docs")))
            ),
            F.lit(0.0),
            lambda acc, x: acc + F.sqrt(x["n_docs"].cast("double")),
        ).alias("__w1")
    )
    r1 = (
        counts.crossJoin(F.broadcast(norm1))
        .withColumn("cap_tokens", cap)
        .withColumn(
            "__alloc1",
            F.least(
                F.col("cap_tokens"),
                F.floor(
                    F.lit(float(budget)) * w / F.col("__w1")
                ).cast("bigint"),
            ),
        )
        .withColumn("__uncapped", F.col("__alloc1") < F.col("cap_tokens"))
    )
    # integer leftover (exact, order-independent); sqrt-weight mass of
    # the still-uncapped sources folds in sorted order again
    norm2 = r1.agg(
        (F.lit(int(budget)) - F.sum("__alloc1")).alias("__left"),
        F.aggregate(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(source_col),
                        F.when(F.col("__uncapped"), F.col("n_docs"))
                        .otherwise(0)
                        .alias("n_docs"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + F.sqrt(x["n_docs"].cast("double")),
        ).alias("__w2"),
    )
    extra = F.when(
        F.col("__uncapped") & (F.col("__w2") > 0),
        F.least(
            F.col("cap_tokens") - F.col("__alloc1"),
            F.floor(
                F.col("__left").cast("double") * w / F.col("__w2")
            ).cast("bigint"),
        ),
    ).otherwise(F.lit(0).cast("bigint"))
    return (
        r1.crossJoin(F.broadcast(norm2))
        .withColumn("alloc_tokens", (F.col("__alloc1") + extra).cast("bigint"))
        .select(
            source_col,
            "n_docs",
            "n_tokens",
            "cap_tokens",
            "alloc_tokens",
            F.round(
                F.col("alloc_tokens").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("epochs_r6"),
        )
    )


def doremi_reweight(item_loss: DataFrame) -> DataFrame:
    """One DoReMi-style exponentiated-gradient reweighting step
    (Xie et al. 2023, "DoReMi: Optimizing Data Mixtures Speeds Up
    Language Model Pretraining" — arXiv:2305.10429), offline form:
    given per-item losses under a proxy model (here typically the
    self-trained unigram LM's negative mean logprob), upweight the
    domains whose average loss EXCEEDS the corpus average —

        w_d  ∝  share_d · exp(eta · max(0, avg_loss_d − avg_loss)),

    normalized over domains, with ``share_d`` the item-count baseline
    and step size eta = 1.
    DoReMi proper iterates this under Group DRO while training the
    proxy; one deterministic step over a fixed loss column is the
    batch-engine building block (the caller loops epochs if wanted).

    Exactness contract: per-domain and corpus averages are rounded to
    6dp BEFORE the exp (so both engines exponentiate identical
    doubles), and the final weight is rounded to 6dp after the
    |domains|-row normalization — float noise below the grain.

    Scale: one partial-combinable aggregate over items; everything
    after runs on the |domains|-row relation (single-partition window
    over a bounded domain count)."""
    per = item_loss.groupBy("domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.round(F.avg("loss"), 6).alias("avg_loss"),
    )
    corpus = item_loss.agg(
        F.count(F.lit(1)).cast("double").alias("__total"),
        F.round(F.avg("loss"), 6).alias("__corpus_avg"),
    )
    raw = (
        per.crossJoin(F.broadcast(corpus))
        .withColumn(
            "excess_loss",
            F.greatest(
                F.lit(0.0),
                F.round(F.col("avg_loss") - F.col("__corpus_avg"), 6),
            ),
        )
        .withColumn(
            "__raw",
            (F.col("n_items").cast("double") / F.col("__total"))
            * F.exp(F.lit(1.0) * F.col("excess_loss")),
        )
    )
    return raw.select(
        "domain",
        "n_items",
        "avg_loss",
        "excess_loss",
        F.round(
            F.col("__raw") / F.sum("__raw").over(Window.partitionBy()),
            6,
        ).alias("weight"),
    )


def weighted_priority_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Weight-proportional sample WITHOUT replacement of ``k`` rows —
    the Efraimidis-Spirakis A-Res scheme (IPL 2006) with the module's
    hash-derived determinism: each row gets priority key ln(u)/w with
    u ∈ (0,1] from a 32-bit md5 prefix of its id, and the k LARGEST
    keys win (equivalent to max-k of u^(1/w); heavier rows draw
    effectively larger u). Unlike `repeat_by_weight` (integer epochs
    per DOMAIN) this samples individual ROWS with probability ∝ weight,
    the "prefer long/high-quality docs, keep variety" selection lever.

    Returns the winning rows: (id, weight, priority_key_r6), ordered by
    key descending, id ascending. Weights are floored at 1 (a
    non-positive weight would flip the key's sign).

    Scale: the key is one md5 + one ln per row inside codegen; the cut
    is orderBy+limit → TakeOrderedAndProject (per-partition top-k then
    a k-row merge on the driver — no global sort, no window)."""
    u = (
        (
            F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
            ).cast("long")
            + 1
        ).cast("double")
        / F.lit(4294967296.0)
    )
    key = F.log(u) / F.greatest(F.col(weight_col), F.lit(1)).cast("double")
    return (
        df.select(
            F.col(id_col),
            F.col(weight_col),
            key.alias("__key"),
        )
        .orderBy(F.col("__key").desc(), F.col(id_col).asc())
        .limit(k)
        .select(
            id_col,
            weight_col,
            F.round("__key", 6).alias("priority_key_r6"),
        )
    )


def largest_remainder_allocation(
    df: DataFrame,
    stratum_col: str,
    budget: int,
) -> DataFrame:
    """Allocate an integer sample ``budget`` across strata exactly
    proportionally — the largest-remainder (Hamilton) method: each
    stratum gets floor(budget·n/N), and the leftover seats go to the
    largest fractional remainders (ties: stratum ascending). Returns
    one row per stratum: (stratum, n_rows, base_alloc, extra,
    final_alloc) with Σ final_alloc = budget guaranteed — the property
    naive independent rounding (round(budget·n/N) per stratum) lacks.

    Everything is integer arithmetic: base = (budget·n) div N, the
    remainder ranking key is (budget·n) mod N — no double ever enters,
    so allocation is engine-exact and immune to float ties.

    Scale: one grouped count, then a window over |strata| rows
    (metadata-sized); the total is a 1-row broadcast."""
    counts = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    total = counts.agg(F.sum("n_rows").alias("__total"))
    scaled = counts.crossJoin(F.broadcast(total)).select(
        "stratum",
        "n_rows",
        F.expr(f"({budget} * n_rows) div __total").alias("base_alloc"),
        F.expr(f"({budget} * n_rows) % __total").alias("__rem"),
    )
    leftover = F.lit(budget) - F.sum("base_alloc").over(Window.partitionBy())
    w = Window.orderBy(F.col("__rem").desc(), F.col("stratum").asc())
    return (
        scaled.withColumn("__rank", F.row_number().over(w))
        .withColumn(
            "extra",
            F.when(F.col("__rank") <= leftover, 1)
            .otherwise(0)
            .cast("bigint"),
        )
        .select(
            "stratum",
            "n_rows",
            F.col("base_alloc").cast("bigint").alias("base_alloc"),
            "extra",
            (F.col("base_alloc") + F.col("extra"))
            .cast("bigint")
            .alias("final_alloc"),
        )
        .orderBy("stratum")
    )


def contrastive_negative_sample(
    df: DataFrame,
    id_col: str,
    group_col: str,
) -> DataFrame:
    """Deterministic k-negative sampling for contrastive training —
    for every anchor row, draw k = 3 negatives from OTHER groups
    (sources), the batch-construction step of every contrastive /
    triplet objective (SimCLR, CLIP, two-tower retrieval): the
    negative must be content-addressed (same pick on every run,
    engine, and retry — or the training set is irreproducible) and
    must never collide with the anchor's own group (an in-group
    "negative" is a false negative that poisons the loss).

    Draw j ∈ 0..k−1 for anchor a: target group = the (md5(a,j) mod
    (G−1))-th entry of the OTHER groups in name order (collision-free
    by construction — the anchor's group is excluded from its ballot),
    position = md5(a,j,'pos') mod |target| + 1 joined against the
    per-group md5-ranked spine. Returns the audit aggregate — one row
    per (anchor_group, negative_group): n_pairs, sum_negative_id (a
    checksum certifying WHICH rows were picked, not just how many),
    distinct_negatives. Rows with a NULL group are excluded up front —
    group identity is the whole contract ("from ANOTHER source"), and
    an unfiltered NULL group would anchor in one engine and vanish in
    the other's equality joins.

    Scale: the per-group rank spine is a window PARTITIONED by group
    (parallel across groups; md5 order, no global sort); the pick is
    one equi-join on (group, position) — anchors×k rows against the
    spine, never a cross join. Group census is broadcast. At extreme
    per-group cardinality the spine sort is the cost: build it once
    per corpus snapshot and reuse across epochs."""
    base = df.select(
        F.col(id_col).cast("long").alias("__id"),
        F.col(group_col).cast("string").alias("__grp"),
    ).filter(F.col("__grp").isNotNull())
    census = base.groupBy("__grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("__cnt")
    )
    # group index in name order, and the global group count
    wg = Window.orderBy("__grp")
    groups = census.withColumn(
        "__gidx", (F.row_number().over(wg) - 1).cast("long")
    )
    n_groups = groups.agg(F.count(F.lit(1)).alias("__ng"))
    spine = base.withColumn(
        "__pos",
        F.row_number()
        .over(
            Window.partitionBy("__grp").orderBy(
                F.md5(F.col("__id").cast("string")), F.col("__id")
            )
        )
        .cast("long"),
    )
    probes = (
        base.select(
            F.col("__id").alias("__aid"), F.col("__grp").alias("__agrp")
        )
        .crossJoin(F.broadcast(n_groups))
        .select(
            "__aid",
            "__agrp",
            "__ng",
            F.explode(F.sequence(F.lit(0), F.lit(2))).alias("__j"),
        )
        .withColumn(
            "__ballot",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("__aid").cast("string"),
                            F.col("__j").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % (F.col("__ng") - 1),
        )
    )
    # anchor's own group is skipped by shifting ballots at/after its index
    own = groups.select(
        F.col("__grp").alias("__agrp"), F.col("__gidx").alias("__own_idx")
    )
    tgt = (
        probes.join(F.broadcast(own), "__agrp")
        .withColumn(
            "__tidx",
            F.when(
                F.col("__ballot") >= F.col("__own_idx"),
                F.col("__ballot") + 1,
            ).otherwise(F.col("__ballot")),
        )
        .join(
            F.broadcast(
                groups.select(
                    F.col("__gidx").alias("__tidx"),
                    F.col("__grp").alias("__tgrp"),
                    F.col("__cnt").alias("__tcnt"),
                )
            ),
            "__tidx",
        )
        .withColumn(
            "__pos",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("__aid").cast("string"),
                            F.col("__j").cast("string"),
                            F.lit("pos"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.col("__tcnt")
            + 1,
        )
    )
    picked = tgt.join(
        spine.select(
            F.col("__grp").alias("__tgrp"),
            "__pos",
            F.col("__id").alias("__nid"),
        ),
        ["__tgrp", "__pos"],
    )
    return (
        picked.groupBy(
            F.col("__agrp").alias("anchor_group"),
            F.col("__tgrp").alias("negative_group"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("__nid").cast("bigint").alias("sum_negative_id"),
            F.count_distinct(F.col("__nid"))
            .cast("bigint")
            .alias("distinct_negatives"),
        )
        .orderBy("anchor_group", "negative_group")
    )
