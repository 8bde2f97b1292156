"""Declared schemas for every table the engine touches.

The reference reads its S3 JSON landing zone with ``inferSchema=true``
(reference README.md:345-349) — nondeterministic and an extra scan at
scale. This engine pins every schema (SURVEY.md §1.3-1.4): at 100 TB an
inference pass over the landing zone is an unaffordable extra job, and
inferred types drift as dirty data drifts.

Raw pin/geo/user schemas follow the wire format enumerated by the
reference's streaming producer (user_posting_emulation_streaming.py:77,86,95);
cleaned schemas follow the reference's post-ETL column lists
(README.md:371-400, 412-420, 432-440).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Pinterest-shaped tables (reference parity surface)
# --------------------------------------------------------------------------

# Raw wire schema: everything that can be dirty is a string; the cleaning
# layer repairs types (follower_count "25k"/"1M", timestamps as strings).
PIN_RAW = T.StructType(
    [
        T.StructField("index", T.IntegerType()),
        T.StructField("unique_id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("poster_name", T.StringType()),
        T.StructField("follower_count", T.StringType()),
        T.StructField("tag_list", T.StringType()),
        T.StructField("is_image_or_video", T.StringType()),
        T.StructField("image_src", T.StringType()),
        T.StructField("downloaded", T.IntegerType()),
        T.StructField("save_location", T.StringType()),
        T.StructField("category", T.StringType()),
    ]
)

GEO_RAW = T.StructType(
    [
        T.StructField("ind", T.IntegerType()),
        T.StructField("country", T.StringType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("timestamp", T.StringType()),
    ]
)

USER_RAW = T.StructType(
    [
        T.StructField("ind", T.IntegerType()),
        T.StructField("first_name", T.StringType()),
        T.StructField("last_name", T.StringType()),
        T.StructField("age", T.IntegerType()),
        T.StructField("date_joined", T.StringType()),
    ]
)

# Post-cleaning schemas (what the queries see).
PIN_CLEAN = T.StructType(
    [
        T.StructField("ind", T.IntegerType()),
        T.StructField("unique_id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("poster_name", T.StringType()),
        T.StructField("follower_count", T.IntegerType()),
        T.StructField("tag_list", T.StringType()),
        T.StructField("is_image_or_video", T.StringType()),
        T.StructField("image_src", T.StringType()),
        T.StructField("downloaded", T.IntegerType()),
        T.StructField("save_location", T.StringType()),
        T.StructField("category", T.StringType()),
    ]
)

GEO_CLEAN = T.StructType(
    [
        T.StructField("ind", T.IntegerType()),
        T.StructField("country", T.StringType()),
        T.StructField("coordinates", T.ArrayType(T.DoubleType())),
        T.StructField("timestamp", T.TimestampType()),
    ]
)

USER_CLEAN = T.StructType(
    [
        T.StructField("ind", T.IntegerType()),
        T.StructField("user_name", T.StringType()),
        T.StructField("age", T.IntegerType()),
        T.StructField("date_joined", T.TimestampType()),
    ]
)

# --------------------------------------------------------------------------
# Driver testdata tables (TESTDATA.md / FIXTURES.md §B)
# --------------------------------------------------------------------------
# sources.parquet.load_table reads every table but ``events`` with these
# schemas, so they must equal what Spark infers from the fixture files
# (tests/test_declared_schemas.py): the fixture writes naive timestamps,
# hence TIMESTAMP_NTZ dates. EVENTS is the loader's output schema — its
# ``ts`` is normalized to TIMESTAMP whatever the file's encoding.

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampNTZType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampNTZType()),
    ]
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

TESTDATA_TABLES = list(TESTDATA_SCHEMAS)
