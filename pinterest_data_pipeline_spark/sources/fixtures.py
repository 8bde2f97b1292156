"""Deterministic Pinterest-shaped fixture generator (FIXTURES.md §A).

Generates raw pin/geo/user tables with the reference's wire formats and
dirty-value distributions: the five sentinel strings (reference
README.md:371), k/M-suffixed follower counts including the ``"1.5M"`` edge
that cleans to NULL (README.md:379-383), 4-token ``save_location`` strings
(README.md:390-392), ``%Y-%m-%d %H:%M:%S`` wire timestamps
(user_posting_emulation.py:63-64), UDF-boundary ages 24/25/35/36/50/51
(README.md:553-556), and a user pool ~N/3 so Q5's no-dedup semantics are
observable (FIXTURES.md §A.3).

Pure-Python generation with a seeded ``random.Random`` so batch and
streaming tests share byte-identical inputs.
"""

from __future__ import annotations

import random
import uuid
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession

from pinterest_data_pipeline_spark.schemas import GEO_RAW, PIN_RAW, USER_RAW

CATEGORIES = [
    "christmas", "diy-and-crafts", "finance", "quotes", "mens-fashion",
    "education", "travel", "art", "event-planning", "tattoos", "beauty",
    "home-decor", "vehicles", "food", "animals",
]

COUNTRIES = [
    "Albania", "Armenia", "Colombia", "Azerbaijan", "Brazil", "Canada",
    "Denmark", "Egypt", "France", "Germany", "India", "Japan", "Kenya",
    "Mexico", "Norway", "Peru", "Qatar", "Russia", "Spain", "Turkey",
]

FIRST_NAMES = ["Dylan", "Amanda", "Maria", "John", "Wei", "Fatima", "Olga",
               "Carlos", "Aisha", "Liam", "Noah", "Emma", "Sofia", "Yuki"]
LAST_NAMES = ["Holmes", "Ball", "Garcia", "Smith", "Chen", "Khan", "Ivanova",
              "Lopez", "Okafor", "Brown", "Kim", "Rossi", "Tanaka", "Novak"]

SENTINEL_TITLE = "No Title Data Available"
SENTINEL_DESC = "No description available Story format"
SENTINEL_USER = "User Info Error"
SENTINEL_IMG = "Image src error."
SENTINEL_TAGS = "N,o, ,T,a,g,s, ,A,v,a,i,l,a,b,l,e"

_EPOCH = datetime(2015, 1, 1, 0, 0, 0)


def _wire_ts(rng: random.Random, start_year: int, end_year: int) -> str:
    start = datetime(start_year, 1, 1)
    span = int((datetime(end_year, 12, 31) - start).total_seconds())
    return (start + timedelta(seconds=rng.randrange(span))).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def _follower_count(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.03:
        return SENTINEL_USER  # dirty sentinel in a numeric column
    if r < 0.05:
        return f"{rng.choice([1, 2, 5])}.5M"  # cleans to NULL (README.md:379-383)
    if r < 0.35:
        return f"{rng.randint(1, 999)}k"
    if r < 0.45:
        return f"{rng.randint(1, 9)}M"
    return str(rng.randint(0, 999_999))


def generate_raw_rows(
    n: int = 2000, seed: int = 100
) -> tuple[list[tuple], list[tuple], list[tuple]]:
    """Return (pin_rows, geo_rows, user_rows) matching the RAW schemas."""
    rng = random.Random(seed)
    uid_rng = random.Random(seed + 1)
    pin_rows, geo_rows, user_rows = [], [], []
    n_users = max(1, n // 3)
    user_pool = [
        (
            rng.choice(FIRST_NAMES),
            rng.choice(LAST_NAMES),
            rng.randint(18, 70),
            _wire_ts(rng, 2015, 2017),
        )
        for _ in range(n_users)
    ]
    # force the age-bucket boundaries into the pool (README.md:553-556)
    for i, age in enumerate([24, 25, 35, 36, 50, 51]):
        f, l, _, dj = user_pool[i % n_users]
        user_pool[i % n_users] = (f, l, age, dj)

    for ind in range(n):
        category = rng.choice(CATEGORIES)
        title = SENTINEL_TITLE if rng.random() < 0.05 else f"Title {ind} {category}"
        desc = SENTINEL_DESC if rng.random() < 0.05 else f"A post about {category} #{ind}"
        poster = SENTINEL_USER if rng.random() < 0.03 else (
            rng.choice(FIRST_NAMES) + " " + rng.choice(LAST_NAMES)
        )
        tags = SENTINEL_TAGS if rng.random() < 0.05 else ",".join(
            rng.sample(CATEGORIES, 3)
        )
        img = SENTINEL_IMG if rng.random() < 0.03 else f"https://i.pinimg.com/{ind}.jpg"
        pin_rows.append(
            (
                ind,
                str(uuid.UUID(int=uid_rng.getrandbits(128), version=4)),
                title,
                desc,
                poster,
                _follower_count(rng),
                tags,
                rng.choice(["image", "video", "multi-video(story page format)"]),
                img,
                rng.randint(0, 1),
                f"Local save in /data/{category}",
                category,
            )
        )
        geo_rows.append(
            (
                ind,
                rng.choice(COUNTRIES),
                round(rng.uniform(-90, 90), 6),
                round(rng.uniform(-180, 180), 6),
                _wire_ts(rng, 2017, 2022),
            )
        )
        first, last, age, date_joined = rng.choice(user_pool)
        user_rows.append((ind, first, last, age, date_joined))
    return pin_rows, geo_rows, user_rows


def generate_raw_tables(
    spark: SparkSession,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Materialize the three raw fixture DataFrames (2000 rows each, seed
    100) with declared schemas."""
    pin_rows, geo_rows, user_rows = generate_raw_rows()
    return (
        spark.createDataFrame(pin_rows, PIN_RAW),
        spark.createDataFrame(geo_rows, GEO_RAW),
        spark.createDataFrame(user_rows, USER_RAW),
    )


# ------------------------------------------------- portable-hash synthesis
#
# A SECOND generator family, used by the oracle-replayable Python Data
# Source mode (sources/emulation_source.py, mode="hash") and pinned
# against plans/pinterest_driver.pin_raw_from_spine: every field is a
# pure function of the row index through the portable md5-prefix hash
# (int(md5(f"{tag}{ind}")[:8], 16) ≡ Spark conv(substr(md5(..),1,8),16,10)
# ≡ DuckDB CAST(concat('0x', substr(md5(..),1,8)) AS BIGINT)), so all
# THREE engines — executor Python, Spark SQL, DuckDB — regenerate
# byte-identical dirty rows from nothing but the index range.

IMAGE_KINDS = ["image", "video", "multi-video(story page format)"]


def _h_py(tag: str, seed: int) -> int:
    import hashlib

    return int(hashlib.md5(f"{tag}{seed}".encode()).hexdigest()[:8], 16)


def _pick_py(pool: list[str], tag: str, seed: int) -> str:
    return pool[_h_py(tag, seed) % len(pool)]


def hash_pin_rows(start: int, end: int) -> list[tuple]:
    """PIN_RAW rows [start, end) from the portable-hash synthesis —
    the pure-Python twin of plans/pinterest_driver.pin_raw_from_spine
    (field-for-field identical; tests/test_python_datasource.py pins
    the three-way parity)."""
    import hashlib

    rows = []
    for ind in range(start, end):
        category = _pick_py(CATEGORIES, "cat", ind)
        fcb = _h_py("fc", ind) % 100
        if fcb < 3:
            follower = SENTINEL_USER
        elif fcb < 5:
            follower = f"{_h_py('fcd', ind) % 3 + 1}.5M"
        elif fcb < 35:
            follower = f"{_h_py('fck', ind) % 999 + 1}k"
        elif fcb < 45:
            follower = f"{_h_py('fcm', ind) % 9 + 1}M"
        else:
            follower = str(_h_py("fcv", ind) % 1000000)
        rows.append(
            (
                ind,
                "uid-" + hashlib.md5(str(ind).encode()).hexdigest(),
                SENTINEL_TITLE
                if _h_py("title", ind) % 100 < 5
                else f"Title {ind}",
                SENTINEL_DESC
                if _h_py("desc", ind) % 100 < 5
                else f"A post about {category}",
                SENTINEL_USER
                if _h_py("poster", ind) % 100 < 3
                else (
                    _pick_py(FIRST_NAMES, "pfn", ind)
                    + " "
                    + _pick_py(LAST_NAMES, "pln", ind)
                ),
                follower,
                SENTINEL_TAGS
                if _h_py("tags", ind) % 100 < 5
                else (
                    _pick_py(CATEGORIES, "tg1", ind)
                    + ","
                    + _pick_py(CATEGORIES, "tg2", ind)
                ),
                _pick_py(IMAGE_KINDS, "iv", ind),
                SENTINEL_IMG
                if _h_py("img", ind) % 100 < 3
                else f"https://i.pinimg.com/{ind}.jpg",
                _h_py("dl", ind) % 2,
                "Local save in /data/" + category,
                category,
            )
        )
    return rows


def write_fixture_parquet(spark: SparkSession, out_dir: str) -> dict[str, str]:
    """Write pin/geo/user raw fixtures as parquet; return name→path."""
    pin, geo, user = generate_raw_tables(spark)
    paths = {}
    for name, df in [("pin", pin), ("geo", geo), ("user", user)]:
        path = f"{out_dir}/{name}.parquet"
        df.coalesce(1).write.mode("overwrite").parquet(path)
        paths[name] = path
    return paths
