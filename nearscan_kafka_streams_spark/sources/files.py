"""File reader: file-based streaming fixtures.

``read_fixture_stream`` replays a directory of JSON files as a
Structured Streaming source -- the test-container stand-in for the
Kafka topics (same schema, same event-time derivation, same downstream
operators).  ``maxFilesPerTrigger=1`` gives multi-micro-batch replay so
streaming state (dedup stores, join buffers, running aggregates) is
genuinely exercised.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from nearscan_kafka_streams_spark.schemas import with_event_time


def read_fixture_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    event_time_source: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming read of JSON fixture files with the declared schema."""
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )
    return with_event_time(raw, event_time_source)

