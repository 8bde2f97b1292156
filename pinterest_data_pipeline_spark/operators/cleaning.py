"""Cleaning transforms for the pin / geo / user record streams.

Pure ``DataFrame → DataFrame`` plan builders reproducing the reference's
ETL semantics (reference README.md:371-440) bit-for-bit. Because every
transform here is stateless and narrow (no shuffle), the same functions run
unchanged under batch ``spark.read`` and Structured Streaming
``spark.readStream`` — that is the engine's whole streaming-parity story
(SURVEY.md §2.9).

Sharp edges preserved on purpose (SURVEY.md §2.3 caveat):
- The k/M expansion is substring-based: ``"1.5M" → "1.5000000" → NULL``
  after the int cast. Reproduced literally so results match the reference.
- ``try_cast`` is used instead of ``cast`` because Spark 4 defaults to ANSI
  mode, where casting a non-numeric string raises instead of yielding NULL.
  ``try_cast`` restores the reference's (Spark 3, non-ANSI) NULL-on-error
  semantics without depending on session config.

Scale note: all of this is whole-stage-codegen'd JVM expression work — no
Python UDFs — so cleaning 100 TB is pure scan-bound map work with zero
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: The five dirty sentinel strings mapped to NULL across all columns
#: (reference README.md:371). Verbatim — fixtures depend on exact bytes.
SENTINELS = [
    "No description available Story format",
    "User Info Error",
    "Image src error.",
    "N,o, ,T,a,g,s, ,A,v,a,i,l,a,b,l,e",
    "No Title Data Available",
]


def null_out_sentinels(df: DataFrame) -> DataFrame:
    """Replace every sentinel dirty value with NULL in all string columns
    (reference README.md:371, ``df.na.replace``)."""
    return df.na.replace({s: None for s in SENTINELS})


def expand_follower_count(df: DataFrame) -> DataFrame:
    """``"25k" → 25000``, ``"1M" → 1000000`` then int cast
    (reference README.md:379-383).

    Literal ``regexp_replace`` composition: ``"1.5M"`` becomes
    ``"1.5000000"`` which try_casts to NULL — preserved, not "fixed".
    """
    expanded = F.regexp_replace(
        F.regexp_replace(F.col("follower_count"), "k", "000"), "M", "000000"
    )
    return df.withColumn("follower_count", expanded.try_cast("int"))


def quarantine_nonfinite(df: DataFrame) -> DataFrame:
    """NULL out NaN and ±Infinity in double/float columns — the numeric
    twin of ``null_out_sentinels``.

    Why this must happen at ingest (NaN-fuzz recon, PERF.md): a
    non-finite value that survives into analytics fails LOUDLY in the
    integer-cents paths (``round(v*100)::bigint`` throws CAST_OVERFLOW
    under ANSI, killing the job on one dirty row) and SILENTLY in the
    DECIMAL paths (Spark 4's ANSI ``inf → DECIMAL`` cast yields NULL,
    so an inf quietly drops out of DECIMAL sums). Quarantining to NULL
    here gives every downstream aggregate one consistent story: a
    non-measurable value contributes nothing, visibly.

    The finite test is two comparisons (``-inf < v < inf``): NaN
    compares greater than +Infinity in Spark's total order, so NaN and
    both infinities all fail it — no ``isnan`` branch needed. Pure
    codegen, zero shuffle, batch/streaming-identical like every
    transform in this module."""
    cols = [c for c, t in df.dtypes if t in ("double", "float")]
    for c in cols:
        v = F.col(c)
        df = df.withColumn(
            c,
            F.when(
                (v > F.lit(float("-inf"))) & (v < F.lit(float("inf"))), v
            ),
        )
    return df


def clean_pin(df: DataFrame) -> DataFrame:
    """Raw pin records → cleaned ``df_pin`` (reference README.md:371-400).

    Steps: sentinel→NULL, follower_count k/M expansion + int cast,
    save_location → 4th space-token ("Local save in /data/x" → "/data/x",
    README.md:390-392), downloaded/index int casts, rename index→ind,
    column reorder (README.md:398-400 select order).
    """
    df = null_out_sentinels(df)
    df = expand_follower_count(df)
    df = df.withColumn("downloaded", F.col("downloaded").try_cast("int"))
    # F.get (not .getItem): NULL on out-of-range index even under ANSI mode,
    # matching the reference's (non-ANSI) NULL semantics for malformed rows.
    df = df.withColumn("save_location", F.get(F.split(F.col("save_location"), " "), 3))
    df = df.withColumn("index", F.col("index").try_cast("int"))
    df = df.withColumnRenamed("index", "ind")
    return df.select(
        "ind",
        "unique_id",
        "title",
        "description",
        "poster_name",
        "follower_count",
        "tag_list",
        "is_image_or_video",
        "image_src",
        "downloaded",
        "save_location",
        "category",
    )


def clean_geo(df: DataFrame) -> DataFrame:
    """Raw geo records → cleaned ``df_geo`` (reference README.md:412-420).

    ``coordinates = array(latitude, longitude)`` (README.md:412), drop the
    scalar lat/lon, wire-string timestamp → TimestampType (README.md:420).
    """
    df = df.withColumn("coordinates", F.array("latitude", "longitude"))
    df = df.drop("latitude", "longitude")
    df = df.withColumn("ind", F.col("ind").try_cast("int"))
    df = df.withColumn("timestamp", F.col("timestamp").try_cast("timestamp"))
    return df.select("ind", "country", "coordinates", "timestamp")


def clean_user(df: DataFrame) -> DataFrame:
    """Raw user records → cleaned ``df_user`` (reference README.md:432-440).

    ``user_name = concat(first_name, last_name)`` — no separator
    (README.md:432) — drop the parts, cast date_joined to timestamp.
    """
    df = df.withColumn("user_name", F.concat("first_name", "last_name"))
    df = df.drop("first_name", "last_name")
    df = df.withColumn("ind", F.col("ind").try_cast("int"))
    df = df.withColumn("age", F.col("age").try_cast("int"))
    df = df.withColumn("date_joined", F.col("date_joined").try_cast("timestamp"))
    return df.select("ind", "user_name", "age", "date_joined")
