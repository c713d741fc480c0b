"""Wire-format serdes: Avro binary + Confluent framing, schema registry.

The reference consumes/produces Confluent-framed Avro on every topic
(util/Schemas.java:88-136).  This package makes that wire path
executable without connector jars: a pure-Python Avro binary codec
(Apache Avro spec, binary encoding; ``avro.py``) and the one decode
both wire readers run, a numpy field sweep over Arrow batches of
Confluent frames with that codec as its row path
(``avro_vec.py::decode_frames``).  The write leg encodes through an
Arrow-batched pandas UDF.
"""

from nearscan_kafka_streams_spark.serde.avro import (
    AvroCodec,
    avro_schema_from_struct,
    confluent_frame,
    confluent_unframe,
    encode_confluent_udf,
)
from nearscan_kafka_streams_spark.serde.registry import (
    SchemaRegistryClient,
    StaticSchemaRegistry,
)

__all__ = [
    "AvroCodec",
    "avro_schema_from_struct",
    "confluent_frame",
    "confluent_unframe",
    "encode_confluent_udf",
    "SchemaRegistryClient",
    "StaticSchemaRegistry",
]
