"""Streaming clean-and-append: the reference's implied consumer side.

The reference's streaming story (SURVEY.md §2.9/ST3) is: three Kinesis
streams mirroring the batch topics, cleaned with the SAME transforms and
appended to Delta tables. Its notebook was never committed; the capability
is reconstructed here Spark-first: ``readStream`` file source (Kafka in
production — same API) → the §2.2-2.3 cleaning functions (stateless, so
identical code paths for batch and stream) → checkpointed append sink.

Every transform in operators/cleaning.py is narrow: the streaming query
has NO state store, NO watermark requirement, and restart-exactly-once
comes entirely from source offsets + sink transactionality + checkpoint.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from pinterest_data_pipeline_spark.operators import cleaning
from pinterest_data_pipeline_spark.schemas import GEO_RAW, PIN_RAW, USER_RAW
from pinterest_data_pipeline_spark.sources.json_landing import read_landing_stream

#: topic name → (wire schema, cleaning transform), mirroring the three
#: reference topics (user_posting_emulation.py:59-61).
TOPIC_PIPELINES: dict[str, tuple[T.StructType, Callable[[DataFrame], DataFrame]]] = {
    "pin": (PIN_RAW, cleaning.clean_pin),
    "geo": (GEO_RAW, cleaning.clean_geo),
    "user": (USER_RAW, cleaning.clean_user),
}


def clean_stream(
    spark: SparkSession,
    topic: str,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start the clean-and-append stream for one topic.

    File-source landing dir stands in for the Kafka/Kinesis topic; the
    transform is the exact batch cleaning function, so streamed output
    rows equal batch-cleaned rows (tested in tests/test_streaming.py)."""
    schema, transform = TOPIC_PIPELINES[topic]
    raw = read_landing_stream(spark, landing_dir, schema)
    cleaned = transform(raw)
    return (
        cleaned.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def clean_stream_to_memory(
    spark: SparkSession,
    topic: str,
    landing_dir: str,
    query_name: str,
) -> StreamingQuery:
    """Memory-sink variant for tests: drive with processAllAvailable()."""
    schema, transform = TOPIC_PIPELINES[topic]
    raw = read_landing_stream(spark, landing_dir, schema)
    cleaned = transform(raw)
    return (
        cleaned.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
