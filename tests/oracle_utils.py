"""Local mirror of the driver's DuckDB oracle comparison.

Runs a registered Spark query and its oracle SQL over the same parquet
tables, normalizes both results (columns sorted by name, rows sorted), and
compares values. Exact equality for ints/strings/timestamps; tight
tolerance for floats (the driver value-hashes, so any float drift here is
flagged loudly by the strict variant).

DTYPE STRICTNESS (round-4 hardening): the driver's value hash is
dtype-sensitive, so `3` (int64) vs `3.0` (float64) is a driver FAIL even
though the values are equal. Round 3 shipped 12 red rows precisely because
this mirror compared values loosely: DuckDB's SUM(BIGINT) returns HUGEINT,
fetchdf() degrades HUGEINT to float64, and the mirror's `3.0 == 3` hid the
mismatch. `compare_frames` now fails on any dtype-class drift between the
two frames (int vs float vs bool vs datetime-with-unit), and `check_query`
additionally DESCRIBEs the oracle and rejects HUGEINT/UHUGEINT/DECIMAL
output columns outright — wrap the aggregate in CAST(... AS BIGINT) (or
CAST(... AS DOUBLE) for intentional floats) in the oracle SQL.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

from pinterest_data_pipeline_spark.schemas import TESTDATA_TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for col in df.columns:  # array columns: make sortable/comparable
        if df[col].map(lambda v: isinstance(v, (list, tuple))
                       or hasattr(v, "__len__") and not isinstance(v, str)).any():
            df[col] = df[col].map(
                lambda v: tuple(v) if not isinstance(v, str) and hasattr(v, "__iter__") else v
            )
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


#: DuckDB output types fetchdf() degrades to float64/object, breaking the
#: driver's dtype-sensitive hash against Spark's int64. Oracle SQL must
#: cast these away at the outermost select.
EXOTIC_DUCKDB_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def _dtype_class(dtype) -> str:
    """Collapse a pandas dtype to the class the driver's hash is
    sensitive to: int vs float vs bool vs datetime vs object.

    Integer widths collapse together (the repo's CAST conventions already
    align them); int64-vs-float64 is the drift that turned all 12
    round-3 rows red. Datetime UNITS also collapse: Spark's toPandas
    yields datetime64[ns] while DuckDB's fetchdf yields [us] for every
    timestamp column, yet timestamp-emitting queries
    (scalar_datetime_funcs, scalar_date_arithmetic, r1) were hash-GREEN
    in the driver — empirical proof the driver normalizes units, so
    flagging them here would be a false-positive class.
    """
    kind = getattr(dtype, "kind", "O")
    if kind in ("i", "u"):
        return "int"
    if kind == "f":
        return "float"
    if kind == "b":
        return "bool"
    if kind == "M":
        return "datetime"
    if kind == "m":
        return "timedelta"
    return "object"


def oracle_output_types(
    con: duckdb.DuckDBPyConnection, sql: str
) -> list[tuple[str, str]]:
    """(column, duckdb_type) pairs for an oracle query, without running it."""
    rows = con.execute(f"DESCRIBE ({sql})").fetchall()
    return [(r[0], r[1]) for r in rows]


def exotic_oracle_columns(
    con: duckdb.DuckDBPyConnection, sql: str
) -> list[tuple[str, str]]:
    """Oracle output columns whose DuckDB type degrades under fetchdf()."""
    return [
        (c, t)
        for c, t in oracle_output_types(con, sql)
        if any(x in t for x in EXOTIC_DUCKDB_TYPES)
    ]


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions (empty = match)."""
    problems: list[str] = []
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return [f"columns differ: {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"]
    if len(spark_pdf) != len(oracle_pdf):
        return [f"row counts differ: {len(spark_pdf)} vs {len(oracle_pdf)}"]
    # dtype-class strictness BEFORE value comparison: equal values in
    # drifted dtypes (int64 vs float64, datetime64[ns] vs [us]) are a
    # driver hash fail, so they must be a local fail too.
    for col in sorted(spark_pdf.columns):
        sc = _dtype_class(spark_pdf[col].dtype)
        oc = _dtype_class(oracle_pdf[col].dtype)
        if sc != oc:
            problems.append(
                f"{col}: dtype-class drift spark={spark_pdf[col].dtype}"
                f"({sc}) vs oracle={oracle_pdf[col].dtype}({oc})"
            )
    if problems:
        return problems
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            x_na = x is None or x is pd.NaT
            y_na = y is None or y is pd.NaT
            if x_na and y_na:
                continue
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                if x != y:
                    problems.append(f"{col}[{i}]: {x!r} != {y!r} (float)")
            elif x != y:
                problems.append(f"{col}[{i}]: {x!r} != {y!r}")
            if len(problems) > 5:
                return problems
    return problems


def oracle_frame(sf_dir: str, sql: str):
    """Run one oracle SQL against sf_dir's tables, with the exotic-type
    audit. Returns (oracle_pdf, problems)."""
    con = duckdb_connection(sf_dir)
    try:
        exotic = exotic_oracle_columns(con, sql)
        if exotic:
            return None, [
                f"oracle emits fetchdf-degrading type {t} in column {c} — "
                "wrap the aggregate in CAST(... AS BIGINT/DOUBLE)"
                for c, t in exotic
            ]
        return con.execute(sql).fetchdf(), []
    finally:
        con.close()


def run_both_sides(build_spark_pdf, sf_dir: str, sql: str):
    """Run the Spark side and the DuckDB oracle CONCURRENTLY and return
    (spark_pdf, oracle_pdf, oracle_problems). Both sides block outside
    the GIL (JVM socket wait / DuckDB native execution), so the parity
    tests' wall time is max(engine, oracle) instead of the sum — the
    heavy connected-components oracles replay a recursive CTE that costs
    15-25 s regardless of SF, which previously serialized after an idle
    engine run (guide §2.6, overlap independent work)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        spark_fut = pool.submit(build_spark_pdf)
        oracle_fut = pool.submit(oracle_frame, sf_dir, sql)
        spark_pdf = spark_fut.result()
        oracle_pdf, problems = oracle_fut.result()
    return spark_pdf, oracle_pdf, problems


def check_query(
    spark, name: str, sf_dir: str, nonempty: bool = False
) -> list[str]:
    """Run query `name` on Spark and DuckDB at sf_dir; return mismatches.
    With ``nonempty``, an empty Spark result is a mismatch too."""
    from pinterest_data_pipeline_spark.plans.registry import ORACLE, QUERIES

    if name not in ORACLE:
        spark_pdf = QUERIES[name](spark, sf_dir).toPandas()
        problems = []
    else:
        spark_pdf, oracle_pdf, problems = run_both_sides(
            lambda: QUERIES[name](spark, sf_dir).toPandas(),
            sf_dir,
            ORACLE[name],
        )
        if problems:
            return problems
        problems = compare_frames(spark_pdf, oracle_pdf)
    if nonempty and len(spark_pdf) == 0:
        problems.append("no rows")
    return problems


def module_queries(module: str) -> list[str]:
    """Registered query names whose builder is defined in
    ``plans/<module>.py``, sorted."""
    import __spark_entry__ as entry_mod

    full = f"pinterest_data_pipeline_spark.plans.{module}"
    return sorted(
        name
        for name, fn in entry_mod.queries().items()
        if fn.__module__ == full
    )
