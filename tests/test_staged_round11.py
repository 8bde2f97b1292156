"""Behavior tests for the queries in plans/staged_round11.py: the
exact-similarity-join family (FastSS edit-distance ≤ 1, prefix-filter
shingle Jaccard, asymmetric containment, z-order report) and the
pipeline-operations family (watermark lateness, Mann-Kendall, peak
concurrency, delta-varint layout, Merkle diff, rendezvous resharding),
each pinned against brute force / hand cases on constructed data.
Their oracle parity against the DuckDB oracles runs below, at
sf0.001 and sf0.01.
"""

from __future__ import annotations

import itertools

import pytest

import __spark_entry__ as entry_mod
from tests.oracle_utils import check_query, module_queries

ROUND_QUERIES = module_queries("staged_round11")


def test_promotion_split_matches_plan():
    """All 11 builders in plans/staged_round11.py are registered: a
    lost @register would drop its query from the driver surface."""
    assert len(ROUND_QUERIES) == 11


def test_every_staged_query_has_an_oracle():
    assert set(ROUND_QUERIES) <= set(entry_mod.oracle_sql())


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
@pytest.mark.parametrize("name", ROUND_QUERIES)
def test_staged_query_matches_oracle(spark, name, sf):
    problems = check_query(spark, name, f"/root/testdata/{sf}", nonempty=True)
    assert not problems, f"{name}@{sf}: {problems}"



def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_fastss_equals_brute_force(spark):
    """Constructed names covering substitution, insertion, deletion,
    exact duplicates, and ED=2 non-pairs: the variant join must find
    EXACTLY the brute-force ED ≤ 1 pair set."""
    from pinterest_data_pipeline_spark.operators.similarity_join import (
        edit_distance_one_pairs,
    )

    names = [
        (1, "kitten"), (2, "sitten"),   # substitution
        (3, "kittens"),                 # insertion vs 1
        (4, "kitte"),                   # deletion vs 1
        (5, "kitten"),                  # exact duplicate of 1
        (6, "mitten"),                  # substitution vs 1
        (7, "banana"),                  # unrelated
        (8, "bananas"), (9, "bananaz"),
        (10, "xyzzy"),                  # ED 2+ from all
    ]
    df = spark.createDataFrame(names, "id long, name string")
    got = {
        (r["key_a"], r["key_b"], r["ed"])
        for r in edit_distance_one_pairs(df, "id", "name").collect()
    }
    brute = set()
    for (ia, na), (ib, nb) in itertools.combinations(names, 2):
        ed = _levenshtein(na, nb)
        if ed <= 1:
            brute.add((min(ia, ib), max(ia, ib), ed))
    assert got == brute
    assert (1, 5, 0) in got  # the exact-duplicate pair rode along
    assert (1, 3, 1) in got and (1, 4, 1) in got  # insert + delete


def test_fastss_emits_each_pair_exactly_once(spark):
    """The distinct-free formulation's load-bearing invariant: every
    true pair appears EXACTLY once (an unequal ED=1 pair shares exactly
    one variant value; equal pairs ride the name-equality join). The
    names are the adversarial shapes for that claim — runs of repeated
    characters (where several deletion positions collapse to one
    variant value), short strings, triplicated exact duplicates, and
    ED=2 collision pairs like ab/ba that share TWO variant values and
    must be dropped by the verify, not double-counted."""
    import collections

    from pinterest_data_pipeline_spark.operators.similarity_join import (
        edit_distance_one_pairs,
    )

    names = [
        (1, "aab"), (2, "ab"),          # deletion inside a run
        (3, "aaab"), (4, "aaaa"),
        (5, "ab"), (6, "ab"),           # triplicated with 2
        (7, "ba"),                      # ED 2 from ab, shares 2 variants
        (8, "a"), (9, "b"), (10, "aa"),
        (11, "abab"), (12, "abba"),
        (13, ""),                       # empty string edge
    ]
    df = spark.createDataFrame(names, "id long, name string")
    rows = edit_distance_one_pairs(df, "id", "name").collect()
    counts = collections.Counter(
        (r["key_a"], r["key_b"]) for r in rows
    )
    assert counts and max(counts.values()) == 1, counts
    brute = {
        (min(ia, ib), max(ia, ib), _levenshtein(na, nb))
        for (ia, na), (ib, nb) in itertools.combinations(names, 2)
        if _levenshtein(na, nb) <= 1
    }
    assert {(r["key_a"], r["key_b"], r["ed"]) for r in rows} == brute


def test_fastss_randomized_multiset_equals_brute_force(spark):
    """Randomized single-edit neighborhoods over a 3-char alphabet,
    compared as a MULTISET against brute force (a set compare would
    mask duplicate emissions)."""
    import random

    from pinterest_data_pipeline_spark.operators.similarity_join import (
        edit_distance_one_pairs,
    )

    rng = random.Random(11)
    names = []
    for i in range(60):
        base = "".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
        names.append((i, base))
    df = spark.createDataFrame(names, "id long, name string")
    got = sorted(
        (r["key_a"], r["key_b"], r["ed"])
        for r in edit_distance_one_pairs(df, "id", "name").collect()
    )
    brute = sorted(
        (ia, ib, _levenshtein(na, nb))
        for (ia, na), (ib, nb) in itertools.combinations(names, 2)
        if _levenshtein(na, nb) <= 1
    )
    assert got == brute


def test_fastss_cap_bounds_planted_hot_keys(spark):
    """Planted hot keys on BOTH capped joins (VERDICT r10 item 4): a
    name duplicated far past the cap (hot equal-name group) and a
    cluster of distinct single-substitution names sharing one deletion
    variant (hot variant key). With ``max_bucket_size=cap`` the output
    must equal the brute-force ED<=1 pair set RESTRICTED to the min-id
    retention replay — pairs among the cap smallest ids of each group
    survive, the rest are trimmed, never duplicated."""
    import collections

    from pinterest_data_pipeline_spark.operators.similarity_join import (
        edit_distance_one_pairs,
    )

    cap = 4
    names = []
    # hot equal-name group: 10 copies of the same name (> cap)
    for i in range(10):
        names.append((i, "hotname"))
    # hot variant key: "qXrst" for 8 distinct X — all share variant
    # "qrst" (delete position 2), pairwise ED=1 via substitution
    for j, ch in enumerate("abcdefgh"):
        names.append((100 + j, f"q{ch}rst"))
    # bystanders under the cap
    names += [(200, "zz"), (201, "zza")]
    df = spark.createDataFrame(names, "id long, name string")
    rows = edit_distance_one_pairs(
        df, "id", "name", max_bucket_size=cap
    ).collect()
    counts = collections.Counter((r["key_a"], r["key_b"]) for r in rows)
    assert counts and max(counts.values()) == 1, counts
    got = {(r["key_a"], r["key_b"], r["ed"]) for r in rows}

    # replay the retention in plain python: cap smallest ids per
    # equal-name group, cap smallest ids per variant bucket
    def dels(s):
        return [s] + [s[:i] + s[i + 1 :] for i in range(len(s))]

    by_name = collections.defaultdict(list)
    for i, n in names:
        by_name[n].append(i)
    eq_expected = set()
    for n, ids in by_name.items():
        for ia, ib in itertools.combinations(sorted(ids)[:cap], 2):
            eq_expected.add((ia, ib, 0))
    by_var = collections.defaultdict(list)
    for i, n in names:
        for v in set(dels(n)):
            by_var[v].append((i, n))
    kept = collections.defaultdict(set)  # variant -> retained ids
    for v, members in by_var.items():
        for i, n in sorted(members)[:cap]:
            kept[v].add(i)
    name_of = dict(names)
    ne_expected = set()
    for v, ids in kept.items():
        for ia, ib in itertools.combinations(sorted(ids), 2):
            na, nb = name_of[ia], name_of[ib]
            if na != nb and _levenshtein(na, nb) <= 1:
                ne_expected.add((ia, ib, 1))
    assert got == eq_expected | ne_expected
    # the cap actually bit: full brute force is strictly larger
    brute = {
        (ia, ib)
        for (ia, na), (ib, nb) in itertools.combinations(names, 2)
        if _levenshtein(na, nb) <= 1
    }
    assert len(brute) > len(got)
    # and within each hot group exactly C(cap,2) pairs survive
    assert sum(1 for k in got if k[2] == 0 and k[0] < 10) == cap * (
        cap - 1
    ) // 2


def test_fastss_trim_report_quantifies_planted_skew(spark):
    """The no-silent-caps companion: on the same planted-skew corpus
    the report must show exactly which join trims how much."""
    from pinterest_data_pipeline_spark.operators.similarity_join import (
        edit_distance_one_trim_report,
    )

    cap = 4
    names = [(i, "hotname") for i in range(10)]
    names += [(100 + j, f"q{ch}rst") for j, ch in enumerate("abcdefgh")]
    df = spark.createDataFrame(names, "id long, name string")
    rep = {
        r["join_side"]: r
        for r in edit_distance_one_trim_report(
            df, "id", "name", cap
        ).collect()
    }
    assert set(rep) == {"variant", "name_eq"}
    eq = rep["name_eq"]
    # one oversized group (hotname x10) trimmed to 4 -> 6 rows out
    assert eq["n_buckets_capped"] == 1
    assert eq["n_rows_trimmed"] == 10 - cap
    assert eq["n_rows"] == 18
    var = rep["variant"]
    # "hotname" itself (8 variants x 10 copies all over cap) plus the
    # shared "qrst" deletion bucket (8 members) are all capped
    assert var["n_buckets_capped"] >= 9
    assert var["n_rows_trimmed"] >= 8 * (10 - cap) + (8 - cap)
    assert 0 < var["trimmed_rows_ppm"] < 1_000_000


def test_fastss_cap_rejects_pairless_cap(spark):
    from pinterest_data_pipeline_spark.operators.similarity_join import (
        edit_distance_one_pairs,
    )

    df = spark.createDataFrame([(1, "a")], "id long, name string")
    with pytest.raises(ValueError, match="max_bucket_size"):
        edit_distance_one_pairs(df, "id", "name", max_bucket_size=1)


def test_jaccard_prefix_join_equals_brute_force(spark):
    """Constructed token sets around the 19/20 boundary: the prefix
    join must find exactly the brute-force qualifying pairs, including
    the identical-set pair (J = 1) and excluding a J = 18/19 near-miss."""
    from pinterest_data_pipeline_spark.operators.similarity_join import (
        jaccard_exact_join,
    )

    base = [f"t{i:02d}" for i in range(19)]
    docs = [
        (1, " ".join(base + ["x1"])),          # 20 tokens
        (2, " ".join(base + ["x1"])),          # identical to 1: J = 1
        (3, " ".join(base + ["x2"])),          # J(1,3) = 19/21 < 19/20
        (4, " ".join(base)),                   # J(1,4) = 19/20 boundary
        (5, "completely different words here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["n_inter"], r["n_union"])
        for r in jaccard_exact_join(
            df, "doc_id", "text", 19, 20, shingle_size=1
        ).collect()
    }

    def toks(t):
        return set(t.split())

    brute = set()
    for (ia, ta), (ib, tb) in itertools.combinations(docs, 2):
        inter = len(toks(ta) & toks(tb))
        union = len(toks(ta) | toks(tb))
        if 20 * inter >= 19 * union:
            brute.add((min(ia, ib), max(ia, ib), inter, union))
    assert got == brute
    assert (1, 2, 20, 20) in got       # identical pair
    assert (1, 4, 19, 20) in got       # boundary pair INCLUDED (>=)
    assert not any(p[:2] == (1, 3) for p in got)  # 19/21 excluded


def test_jaccard_shingles_find_planted_near_dup(spark):
    """3-word shingles: a document and its one-word-edited copy share
    most shingles (J ≥ 1/2) while an unrelated doc pairs with nothing;
    too-short docs (< 3 tokens) never pair."""
    from pinterest_data_pipeline_spark.operators.similarity_join import (
        jaccard_exact_join,
    )

    base = " ".join(f"w{i}" for i in range(30))
    edited = base.replace("w15", "zz")
    docs = [
        (1, base),
        (2, edited),
        (3, "totally different content " * 8),
        (4, "too short"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in jaccard_exact_join(
            df, "doc_id", "text", 1, 2, shingle_size=3
        ).collect()
    }
    assert got == {(1, 2)}
    row = jaccard_exact_join(
        df, "doc_id", "text", 1, 2, shingle_size=3
    ).collect()[0]
    # 28 shingles each; the edit breaks 3 of them: inter 25, union 31
    assert (row["n_inter"], row["n_union"]) == (25, 31)


def test_jaccard_posting_cap_degrades_never_corrupts(spark):
    """max_posting_size on a planted hot prefix shingle: capped output
    must be a SUBSET of uncapped output (emitted pairs stay exact —
    verification always reads the full sets), min-id survivors of the
    hot cluster still pair, and the trim report prices the cut."""
    from pinterest_data_pipeline_spark.operators.similarity_join import (
        jaccard_exact_join,
        jaccard_trim_report,
    )

    # 8 identical docs (every prefix shingle hot) + 2 unrelated
    docs = [(i, "alpha beta gamma delta") for i in range(8)]
    docs += [(100, "zz yy xx ww"), (101, "zz yy xx vv")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    kw = dict(threshold_num=1, threshold_den=2, shingle_size=1)
    full = {
        (r["id_a"], r["id_b"])
        for r in jaccard_exact_join(df, "doc_id", "text", **kw).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in jaccard_exact_join(
            df, "doc_id", "text", max_posting_size=3, **kw
        ).collect()
    }
    assert capped <= full
    assert len(capped) < len(full)  # the cap actually bit
    # min-id survivors of the hot cluster (docs 0,1,2) still pair
    assert {(0, 1), (0, 2), (1, 2)} <= capped
    # the unrelated small group is untouched
    assert (100, 101) in capped
    rep = jaccard_trim_report(
        df, "doc_id", "text", max_posting_size=3, **kw
    ).collect()[0]
    assert rep["join_side"] == "prefix"
    assert rep["n_buckets_capped"] >= 1
    assert rep["n_rows_trimmed"] >= 5


def test_containment_posting_cap_degrades_never_corrupts(spark):
    """Same contract for the containment join, whose uncut b-side
    posting lists are the hot spot: capped ⊆ uncapped, exactness of
    emitted rows kept, two-row report labels both join sides."""
    from pinterest_data_pipeline_spark.operators.similarity_join import (
        containment_exact_join,
        containment_trim_report,
    )

    docs = [(i, "alpha beta gamma delta epsilon") for i in range(8)]
    docs += [(100, "solo unique words entirely")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    kw = dict(threshold_num=4, threshold_den=5, shingle_size=1)
    full = {
        (r["id_a"], r["id_b"])
        for r in containment_exact_join(
            df, "doc_id", "text", **kw
        ).collect()
    }
    capped_rows = containment_exact_join(
        df, "doc_id", "text", max_posting_size=3, **kw
    ).collect()
    capped = {(r["id_a"], r["id_b"]) for r in capped_rows}
    assert capped <= full
    assert len(capped) < len(full)
    # emitted rows carry the TRUE intersection sizes (full-set verify)
    for r in capped_rows:
        assert r["n_inter"] == 5 and r["n_a"] == 5
    rep = {
        r["join_side"]: r
        for r in containment_trim_report(
            df, "doc_id", "text", max_posting_size=3, **kw
        ).collect()
    }
    assert set(rep) == {"probe_prefix", "posting"}
    assert rep["posting"]["n_rows_trimmed"] >= 5 * (8 - 3)
    assert 0 < rep["posting"]["trimmed_rows_ppm"] < 1_000_000


def test_containment_asymmetric_hand_case(spark):
    """A 10-token quote inside a 60-token page: containment(a in b) = 1
    (all of a's shingles appear in b) while Jaccard is far below 1/2;
    the reverse direction does NOT qualify; an unrelated doc pairs with
    nothing."""
    from pinterest_data_pipeline_spark.operators.similarity_join import (
        containment_exact_join,
        jaccard_exact_join,
    )

    quote = " ".join(f"q{i}" for i in range(10))
    page = " ".join(f"p{i}" for i in range(25)) + " " + quote + " " + " ".join(
        f"z{i}" for i in range(25)
    )
    docs = [(1, quote), (2, page), (3, "other stuff entirely here now")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["containment_r6"]
        for r in containment_exact_join(df, "doc_id", "text", 4, 5, 3).collect()
    }
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == 1.0
    # symmetric Jaccard at 1/2 misses the same pair entirely
    j = jaccard_exact_join(df, "doc_id", "text", 1, 2, 3).collect()
    assert not j


def test_morton_key_hand_values(spark):
    """Bit-interleave spot checks: (1,0) -> 2, (0,1) -> 1, (3,3) -> 15,
    (255,255) -> 65535."""
    from pyspark.sql import functions as F

    from pinterest_data_pipeline_spark.operators.zorder import morton_key

    df = spark.createDataFrame(
        [(1, 0), (0, 1), (3, 3), (255, 255), (170, 85)],
        "d1 long, d2 long",
    )
    got = [
        r["z"]
        for r in df.select(
            morton_key(F.col("d1"), F.col("d2")).alias("z")
        ).collect()
    ]

    def morton(a, b):
        z = 0
        for bit in range(8):
            z |= ((a >> bit) & 1) << (2 * bit + 1)
            z |= ((b >> bit) & 1) << (2 * bit)
        return z

    assert got == [morton(a, b) for a, b in
                   [(1, 0), (0, 1), (3, 3), (255, 255), (170, 85)]]


def test_zorder_prunes_both_dimensions(spark, sf_dir):
    """The report's whole point: z-order must read no more buckets than
    insertion order, and on a genuinely 2-D predicate it must beat the
    single-column sort."""
    from pyspark.sql import functions as F

    from pinterest_data_pipeline_spark.operators.zorder import (
        zorder_pruning_report,
    )
    from pinterest_data_pipeline_spark.sources.parquet import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
        "l_partkey",
        "l_suppkey",
    )
    rows = {
        r["layout"]: r for r in zorder_pruning_report(
            li, "rid", "l_partkey", "l_suppkey"
        ).collect()
    }
    assert rows["zorder"]["buckets_read"] <= rows["insertion"]["buckets_read"]
    assert rows["zorder"]["buckets_read"] < rows["sort_a"]["buckets_read"]
    assert rows["zorder"]["read_ppm"] < rows["sort_a"]["read_ppm"]


# ------------------------------------------------- pipeline operations


def test_watermark_lateness_hand_case(spark):
    """Planted arrival disorder: the two-level scan must reproduce the
    textbook watermark semantics row for row — first arrival has no
    watermark, an event arriving after a much-newer event and more than
    `delay` behind it is late by exactly the gap, an event exactly AT
    the watermark is NOT late (strict <)."""
    from pinterest_data_pipeline_spark.operators.lateness import (
        MICROS,
        watermark_lateness,
    )

    rows = [
        # (id, arrival, event_time_us)
        (1, 100, 50 * MICROS),
        (2, 200, 200 * MICROS),   # advances the max
        (3, 300, 60 * MICROS),    # wm = 200 - 30 = 170 -> late by 110 s
        (4, 400, 170 * MICROS),   # exactly at wm -> NOT late
        (5, 500, 169 * MICROS),   # 1 below wm -> late by 1 s
    ]
    df = spark.createDataFrame(
        [(i, a, t) for i, a, t in rows],
        "event_id int, arr bigint, us bigint",
    ).selectExpr("event_id", "arr", "timestamp_micros(us) AS ts")
    out = {
        r["event_id"]: r
        for r in watermark_lateness(
            df, "arr", "event_id", "ts", delay_s=30
        ).collect()
    }
    assert out[1]["wm_us"] is None and not out[1]["is_late"]
    assert not out[2]["is_late"]
    assert out[3]["is_late"] and out[3]["late_us"] == 110 * MICROS
    assert not out[4]["is_late"]  # strict: at the watermark survives
    assert out[5]["is_late"] and out[5]["late_us"] == 1 * MICROS


def test_watermark_two_level_scan_equals_naive(spark):
    """The scan decomposition is exact for ANY shard width: a tiny
    shard (forcing many cross-shard hand-offs) must agree with one
    huge shard (the naive single-window case) row for row."""
    from pyspark.sql import functions as F

    from pinterest_data_pipeline_spark.operators.lateness import (
        MICROS,
        watermark_lateness,
    )

    df = (
        spark.range(0, 300)
        .select(
            F.col("id").alias("event_id"),
            (F.col("id") * 7 % 300).cast("bigint").alias("arr"),
            F.timestamp_micros(
                (F.col("id") * 13 % 97) * MICROS
            ).alias("ts"),
        )
    )

    def run(shard_us):
        return sorted(
            (
                r["event_id"], r["wm_us"], r["is_late"], r["late_us"]
            )
            for r in watermark_lateness(
                df, "arr", "event_id", "ts", 5, shard_us=shard_us
            ).collect()
        )

    assert run(7) == run(10 ** 15)


def test_mann_kendall_hand_series(spark):
    """Monotone series: S = n(n-1)/2, no ties, z > 0; constant series:
    var_num = 0 -> z NULL; the textbook Gilbert (1987) example's S."""
    from pinterest_data_pipeline_spark.operators.mann_kendall import (
        mann_kendall,
    )

    rows = [("up", i, 10 + i) for i in range(6)]
    rows += [("flat", i, 7) for i in range(5)]
    rows += [("one", 0, 3)]  # single period: S=0, var 0, z NULL, kept
    # Gilbert 1987 ex. 16.1-style: 10, 15, 14, 20 -> S = +4
    for i, v in enumerate([10, 15, 14, 20]):
        rows.append(("gil", i, v))
    df = spark.createDataFrame(rows, "g string, t int, v int")
    out = {r["g"]: r for r in mann_kendall(df, ["g"], "t", "v").collect()}
    assert out["up"]["s_stat"] == 15 and out["up"]["n_periods"] == 6
    assert out["up"]["var_num"] == 6 * 5 * 17
    assert out["up"]["z_r6"] > 0
    assert out["flat"]["var_num"] == 0 and out["flat"]["z_r6"] is None
    assert out["gil"]["s_stat"] == 4
    assert out["one"]["n_periods"] == 1 and out["one"]["s_stat"] == 0
    assert out["one"]["var_num"] == 0 and out["one"]["z_r6"] is None


def test_peak_concurrency_hand_intervals(spark):
    """Three intervals on one day: [0,10], [5,15], [10,20] (seconds) —
    at t=10 all three overlap (inclusive ends), so peak 3 at t=10; a
    midnight-crossing interval must count toward BOTH days."""
    from pyspark.sql import functions as F

    from pinterest_data_pipeline_spark.operators.sessionize import (
        DAY_US,
        peak_concurrency_by_day,
    )

    m = 1_000_000
    day0 = 19_000 * DAY_US
    iv = [
        (day0 + 0 * m, day0 + 10 * m),
        (day0 + 5 * m, day0 + 15 * m),
        (day0 + 10 * m, day0 + 20 * m),
        # crosses into the next day
        (day0 + DAY_US - 5 * m, day0 + DAY_US + 5 * m),
    ]
    df = spark.createDataFrame(iv, "s bigint, e bigint").select(
        F.timestamp_micros(F.col("s")).alias("session_start"),
        F.timestamp_micros(F.col("e")).alias("session_end"),
    )
    out = sorted(
        peak_concurrency_by_day(df).collect(), key=lambda r: r["day"]
    )
    assert len(out) == 2
    d0, d1 = out
    assert d0["n_intervals"] == 4 and d0["peak_concurrent"] == 3
    assert d0["peak_at_us"] == day0 + 10 * m
    assert d1["n_intervals"] == 1 and d1["peak_concurrent"] == 1
    assert d1["peak_at_us"] == day0 + DAY_US


def test_varint_costs_hand_keys(spark):
    """Densely sorted keys cost 1 byte per delta; a 128-gap zigzags to
    256 -> 2 bytes; order reversal zigzags negatives correctly."""
    from pyspark.sql import functions as F

    from pinterest_data_pipeline_spark.operators.encoding import (
        delta_varint_report,
    )

    df = spark.range(0, 100).select(F.col("id").alias("k"))
    out = {
        r["layout"]: r
        for r in delta_varint_report(
            df, "k", {"sorted": []}, n_pages=1
        ).collect()
    }
    # base 8 + 99 deltas of zigzag(1)=2 -> 1 byte each
    assert out["sorted"]["total_bytes"] == 8 + 99
    assert out["sorted"]["fixed_bytes"] == 800

    df2 = spark.createDataFrame(
        [(0,), (128,), (64,)], "k bigint"
    )  # sorted: 0,64,128 -> gaps 64,64 -> zigzag 128 -> 2 bytes each
    out2 = delta_varint_report(df2, "k", {"s": []}, n_pages=1).collect()[0]
    assert out2["total_bytes"] == 8 + 2 + 2


def test_merkle_diff_exactness_and_empty(spark):
    """Hand change set: one added, one removed, one modified key —
    nothing else; identical versions diff to the empty relation."""
    from pinterest_data_pipeline_spark.operators.reconcile import merkle_diff

    from pyspark.sql import functions as F

    v1 = spark.createDataFrame(
        [(i, i * 10) for i in range(50)], "k bigint, p bigint"
    )
    v2 = (
        v1.where("k <> 7")
        .select(
            "k",
            F.when(F.col("k") == 3, F.lit(999)).otherwise(F.col("p")).alias(
                "p"
            ),
        )
        .unionAll(spark.createDataFrame([(1000, 1)], "k bigint, p bigint"))
    )
    out = {
        r["key"]: r["change_type"]
        for r in merkle_diff(v1, v2, "k", ["p"], n_buckets=8).collect()
    }
    assert out == {7: "removed", 3: "modified", 1000: "added"}

    assert merkle_diff(v1, v1, "k", ["p"], n_buckets=8).count() == 0


def test_hrw_property_and_guards(spark):
    """HRW's defining guarantee on real keys: growing 8 -> 10 shards
    never moves a key between two old shards; assignments always land
    in range; bad shard counts fail fast."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from pinterest_data_pipeline_spark.operators.sharding import (
        hrw_assign,
        reshard_stability,
    )

    keys = spark.range(0, 500).select(F.col("id").alias("k"))
    shards = {r["shard"] for r in hrw_assign(keys, "k", 5).collect()}
    assert shards <= set(range(5)) and len(shards) == 5

    rows = {
        r["strategy"]: r
        for r in reshard_stability(keys, "k", 8, 10).collect()
    }
    assert rows["hrw"]["n_illegal_moves"] == 0
    assert 0 < rows["hrw"]["n_moved"] < rows["mod"]["n_moved"]
    assert rows["hrw"]["n_keys"] == 500

    with _pytest.raises(ValueError, match="n_from"):
        reshard_stability(keys, "k", 10, 8)
