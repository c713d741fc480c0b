"""Sources: Kafka topic readers (S1), the wire-segment reader, and the
fixture stream reader.

The reference consumes three Debezium-CDC Avro topics
(TokenBalance.java:92-113); the Spark equivalents live in ``kafka.py``,
and ``pyds.py`` reads the same Confluent frames from record-log
segments through the same decode.  ``files.py`` replays JSON fixtures
as a stream for the test harness (the reference has no file sources --
SURVEY (S)2.1 "Absent" row -- they are free in Spark).
"""

from nearscan_kafka_streams_spark.sources.debezium import (
    decode_debezium_values,
)
from nearscan_kafka_streams_spark.sources.files import (
    read_fixture_stream,
)
from nearscan_kafka_streams_spark.sources.kafka import (
    decode_topic_values,
    read_topic_stream,
)

__all__ = [
    "decode_debezium_values",
    "decode_topic_values",
    "read_fixture_stream",
    "read_topic_stream",
]
