"""Every registered query must match its DuckDB oracle at sf0.001.

This mirrors the driver's CORRECTNESS gate (row count + schema + values)
so oracle drift is caught locally before a round ends.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from tests.oracle_utils import check_query


def _query_names() -> list[str]:
    return sorted(entry_mod.queries())


@pytest.mark.parametrize("name", _query_names())
def test_query_matches_oracle(spark, sf_dir, name):
    problems = check_query(spark, name, sf_dir)
    assert not problems, f"{name}: {problems}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["nation", "customer", "acctbal"]


def test_no_complex_types_in_registered_outputs(spark, sf_dir):
    """The driver comparator value-hashes pandas frames and cannot hash
    list/dict cells (round-2 `multimodal_frame_offsets` TypeError), so no
    registered query may emit array/map/struct columns — join arrays to
    pinned-format strings instead (see collect_segments_per_nation)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import types as T

    # Only the schema is needed, but CONSTRUCTING the iterative queries
    # runs their driver-side training loops (k-means collects, BPE
    # argmax, CC fixpoint rounds) — this was the suite's single largest
    # test (~4 min serial). Constructions are independent, so build them
    # through a thread pool (guide §2.6 overlap-independent-jobs): the
    # next query's driver work back-fills while another waits on a job.
    def fields(item):
        name, fn = item
        return [
            (name, f.name, str(f.dataType))
            for f in fn(spark, sf_dir).schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]

    with ThreadPoolExecutor(max_workers=16) as pool:
        per_query = pool.map(fields, sorted(entry_mod.queries().items()))
    offenders = [o for fs in per_query for o in fs]
    assert not offenders, offenders


def test_compare_frames_flags_equal_values_in_drifted_dtypes():
    """Round-3 regression: the driver's value hash is dtype-sensitive, so
    `3` (int64) vs `3.0` (float64) is a driver FAIL even though the values
    are equal — and the old loose mirror certified it green. The mirror
    must flag dtype-class drift (and datetime unit drift) loudly."""
    import pandas as pd

    from tests.oracle_utils import compare_frames

    ints = pd.DataFrame({"k": ["a", "b"], "v": pd.array([3, 4], dtype="int64")})
    floats = pd.DataFrame({"k": ["a", "b"], "v": pd.array([3.0, 4.0], dtype="float64")})
    problems = compare_frames(ints, floats)
    assert problems and "dtype-class drift" in problems[0], problems

    # datetime UNIT drift is NOT flagged: Spark toPandas yields [ns],
    # DuckDB fetchdf yields [us], and timestamp-emitting queries were
    # hash-green in the driver (scalar_datetime_funcs r1) — the driver
    # normalizes units, so the mirror must not false-positive on them.
    ns = pd.DataFrame({"t": pd.to_datetime(["2024-01-01"]).as_unit("ns")})
    us = pd.DataFrame({"t": pd.to_datetime(["2024-01-01"]).as_unit("us")})
    assert compare_frames(ns, us) == []

    # identical dtypes and values still pass
    assert compare_frames(ints, ints.copy()) == []


def test_no_exotic_types_in_any_oracle(sf_dir):
    """DESCRIBE every oracle and assert none emits HUGEINT/UHUGEINT/
    DECIMAL output columns — DuckDB's SUM(BIGINT) returns HUGEINT, which
    fetchdf() degrades to float64 and the driver's dtype-sensitive hash
    then mismatches Spark's int64 (the single root cause of all 12
    round-3 red rows). New oracles must CAST such aggregates away."""
    from tests.oracle_utils import duckdb_connection, exotic_oracle_columns

    con = duckdb_connection(sf_dir)
    offenders = {}
    try:
        for name, sql in entry_mod.oracle_sql().items():
            exotic = exotic_oracle_columns(con, sql)
            if exotic:
                offenders[name] = exotic
    finally:
        con.close()
    assert not offenders, offenders


def test_unverified_queries_sit_inside_the_driver_window():
    """The external driver checks only the FIRST 50 of queries(); every
    query that still needs a row — never checked in any
    CORRECTNESS_r*.json, or red in its most recent row — and every
    query changed since its last green row (an active RECHECK entry)
    must sit inside that window."""
    import os

    from pinterest_data_pipeline_spark.plans import registry

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest, last_green = registry.read_evidence(repo)
    window = list(entry_mod.queries())[:50]
    needs_row = [
        name
        for name in entry_mod.queries()
        if name not in latest or not registry.is_green(name, latest[name])
    ]
    changed = [
        name
        for name, round_ in registry.RECHECK.items()
        if round_ >= last_green.get(name, 0)
    ]
    missing = [n for n in needs_row + changed if n not in window]
    assert not missing, (
        f"{len(missing)} queries need a driver row but sit outside the "
        f"50-entry window: {missing}"
    )


def test_check_order_follows_the_evidence_tiers(tmp_path, monkeypatch):
    """ordered_queries over a synthetic registry and evidence directory:
    with no files, RECHECK entries then registration order; then no row
    or a red row first, an active RECHECK entry next, then green rows
    oldest first, green rows-only queries last; a round that marks the
    first 50 green moves them behind the rest."""
    import json

    from pinterest_data_pipeline_spark.plans import registry

    names = [f"q{i:02d}" for i in range(60)]
    monkeypatch.setattr(registry, "QUERIES", dict.fromkeys(names + ["img"]))
    monkeypatch.setattr(registry, "ORACLE", dict.fromkeys(names, "SELECT 1"))
    # q10 changed after its r2 row; q11's change predates its r2 row
    monkeypatch.setattr(registry, "RECHECK", {"q10": 2, "q11": 1})
    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "spark_rows": 1, "oracle_rows": 1, "err": None}
    red = dict(green, hash_match=False)

    def write(round_, rows):
        (tmp_path / f"CORRECTNESS_r{round_:02d}.json").write_text(json.dumps(rows))

    assert list(registry.ordered_queries(str(tmp_path))) == (
        ["q10", "q11"] + names[:10] + names[12:] + ["img"]
    )
    r1 = {n: green for n in names if n != "q07"}
    r1["img"] = {"err": "no_oracle", "spark_rows": 5}
    write(1, r1)
    r2 = {n: green for n in ["q10", "q11"] + names[20:]}
    r2["q03"] = red
    write(2, r2)
    order = list(registry.ordered_queries(str(tmp_path)))
    old = [n for n in names[:20] if n not in ("q03", "q07", "q10", "q11")]
    assert order == (
        ["q07", "q03", "q10"] + old + ["q11"] + names[20:] + ["img"]
    )

    write(3, dict.fromkeys(order[:50], green))
    rotated = list(registry.ordered_queries(str(tmp_path)))
    assert rotated == order[50:60] + sorted(order[:50]) + ["img"]


def test_register_rejects_sql_line_comments():
    """register() collapses oracle whitespace, so a `--` line comment
    would silently swallow the rest of the statement (it broke three
    oracles' DESCRIBE during round 4 before the guard existed)."""
    from pinterest_data_pipeline_spark.plans import registry

    with pytest.raises(ValueError, match="SQL comment"):
        registry.register("___tmp_comment_guard", oracle="SELECT 1 -- boom")(
            lambda spark, sf: None
        )
    # the rejected registration must leave no partial entry behind
    assert "___tmp_comment_guard" not in registry.QUERIES
    assert "___tmp_comment_guard" not in registry.ORACLE


def test_register_rejects_duplicate_names():
    """A second registration under a taken name raises and leaves the
    first builder and its oracle in place."""
    from pinterest_data_pipeline_spark.plans import registry

    name = "q3a_top_customer_per_nation"
    queries, oracles = dict(registry.QUERIES), dict(registry.ORACLE)
    with pytest.raises(ValueError, match="duplicate query name"):
        registry.register(name, oracle="SELECT 1")(lambda spark, sf: None)
    assert registry.QUERIES == queries
    assert registry.ORACLE == oracles


def test_every_query_has_callable_and_most_have_oracles():
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert qs, "no queries registered"
    for name in oracles:
        assert name in qs, f"oracle {name} has no query"


def test_rotation_lists_only_name_registered_queries():
    """A RECHECK entry names a registered query (a typo would silently
    never lead the window), and its round is no newer than the newest
    CORRECTNESS file (a later round has no row yet to compare with)."""
    import os

    from pinterest_data_pipeline_spark.plans import registry

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    newest = max(
        int(m.group(1))
        for m in map(registry._EVIDENCE_FILE.fullmatch, os.listdir(repo))
        if m
    )
    for name, round_ in registry.RECHECK.items():
        assert name in registry.QUERIES, f"RECHECK entry not registered: {name}"
        assert round_ <= newest, f"RECHECK {name}: r{round_} > r{newest}"
