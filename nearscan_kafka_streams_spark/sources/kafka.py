"""S1: Kafka sources for the three CDC topics.

Reference: ``builder.stream(topic, Consumed.with(String, SpecificAvro))``
(TokenBalance.java:92-94/100-102/108-110; serde wiring
util/Schemas.java:88-136).  Spark equivalent: ``readStream.format
("kafka")`` + payload decode into the declared StructType.

Wire formats:
- ``json``: plain ``from_json`` (the fixture/replay format);
- ``avro``: Confluent wire format = 1 magic byte + 4-byte schema id +
  Avro body.  The ``value`` column goes through ``mapInArrow`` into
  ``serde/avro_vec.py::decode_frames``, the decode the segment reader
  (``sources/pyds.py``) runs, with the frame bounds taken from the
  Arrow column's offsets; a frame that does not decode fails the task,
  naming the topic, partition and offset when ``raw`` has them.

Schemas come from code (schemas.py) or a registry fetched ONCE at
plan-build time (serde/registry.py; the reference fetches at startup,
util/Schemas.java:113-136) -- never per record.

No Kafka broker exists in the test container; the broker leg is
exercised by construction tests, while the decode path itself runs for
real against framed bytes (tests/test_avro_wire.py,
tests/test_wire_readers.py).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from nearscan_kafka_streams_spark.schemas import with_event_time

# Kafka source columns that locate a record, named in a decode error
_LOCATION = ("topic", "partition", "offset")


def decode_topic_values(
    raw: DataFrame,
    schema: StructType,
    wire_format: str = "json",
    avro_schema_json: str | None = None,
) -> DataFrame:
    """(key, value) Kafka records -> flat decoded columns.

    Shared by the streaming source and batch replays of captured topic
    dumps; ``raw`` needs binary ``value`` and (optionally) ``key``.
    """
    key = (
        F.col("key").cast("string")
        if "key" in raw.columns
        else F.lit(None).cast("string")
    ).alias("kafka_key")

    if wire_format == "json":
        decoded = raw.select(
            key, F.from_json(F.col("value").cast("string"), schema).alias("v")
        )
        return decoded.select("kafka_key", "v.*")
    if wire_format != "avro":
        raise ValueError(f"unknown wire format: {wire_format}")
    if avro_schema_json is None:
        raise ValueError("avro wire format requires avro_schema_json")
    # schemas built here, not in each executor worker: the import
    # pulls pandas in (~1 s cold per worker)
    from pyspark.sql.pandas.types import to_arrow_schema

    located = set(_LOCATION) <= set(raw.columns)
    raw = raw.select(key, "value", *(_LOCATION if located else ()))
    avro_schema = json.loads(avro_schema_json)
    out = StructType([StructField("kafka_key", StringType()), *schema.fields])
    arrow_schema, out_arrow = to_arrow_schema(schema), to_arrow_schema(out)

    def decode(batches):
        import pyarrow as pa

        from nearscan_kafka_streams_spark.serde.avro_vec import (
            FrameError,
            decode_frames,
        )

        for batch in batches:
            keys, at = batch.column("kafka_key"), 0
            try:
                for rows in decode_frames(
                    *_value_frames(batch.column("value")),
                    avro_schema,
                    arrow_schema,
                ):
                    yield pa.RecordBatch.from_arrays(
                        [keys.slice(at, rows.num_rows), *rows.columns],
                        schema=out_arrow,
                    )
                    at += rows.num_rows
            except FrameError as exc:
                if located:
                    t, p, o = (batch.column(c)[exc.record] for c in _LOCATION)
                    exc.add_note(f"topic {t} partition {p} offset {o}")
                raise

    return raw.mapInArrow(decode, out)


def _value_frames(values):
    """``(data, starts, ends)`` of an Arrow binary column's values for
    ``decode_frames``, from its offsets (a null is an empty frame)."""
    import numpy as np
    import pyarrow as pa

    width = np.int64 if pa.types.is_large_binary(values.type) else np.int32
    _, offsets, data = values.buffers()
    off = np.frombuffer(offsets, width)[
        values.offset : values.offset + len(values) + 1
    ].astype(np.int64)
    return data or b"", off[:-1], off[1:]


def read_topic_stream(
    spark: SparkSession,
    topic: str,
    schema: StructType,
    event_time_source: str,
    bootstrap: str = "localhost:9092",
    starting_offsets: str = "earliest",
    wire_format: str = "json",
    avro_schema_json: str | None = None,
    registry=None,
    subject: str | None = None,
    envelope: str = "flat",
    kafka_options: dict[str, str] | None = None,
) -> DataFrame:
    """Streaming DataFrame of decoded topic records + ``event_time``.

    Key (the reference's receipt_id message key) is surfaced as
    ``kafka_key``; downstream operators join on the payload's own
    receipt_id column, so the key is informational (S1 parity).

    Pass ``registry`` (serde/registry.py) to resolve the value schema
    from ``subject`` (default ``{topic}-value``) at startup instead of
    supplying ``avro_schema_json`` directly.

    ``envelope="debezium"`` unwraps raw Debezium CDC envelopes
    in-engine (S5; sources/debezium.py) for deployments without the
    ExtractNewRecordState SMT the reference assumes upstream --
    JSON envelopes only (Connect's JSON converter).
    """
    if registry is not None and avro_schema_json is None:
        _, avro_schema_json = registry.latest(subject or f"{topic}-value")

    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    for k, v in (kafka_options or {}).items():
        reader = reader.option(k, v)
    raw = reader.load()

    if envelope == "debezium":
        if wire_format != "json":
            raise ValueError("debezium envelope decoding supports json values")
        from nearscan_kafka_streams_spark.sources.debezium import (
            decode_debezium_values,
        )

        flat = decode_debezium_values(raw, schema)
    elif envelope == "flat":
        flat = decode_topic_values(raw, schema, wire_format, avro_schema_json)
    else:
        raise ValueError(f"unknown envelope: {envelope}")
    return with_event_time(flat, event_time_source)
