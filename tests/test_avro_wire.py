"""S1/S3 wire parity: Confluent-framed Avro actually executes.

The reference's topics all carry Confluent wire format (magic byte +
4-byte schema id + Avro binary; util/Schemas.java:88-136).  No broker
or connector jar exists in this container, so the codec itself
(serde/avro.py) carries the wire path: spec-vector pins, per-topic
round trips through real Spark plans (encode UDF -> Kafka reader's
Arrow decode), a streaming serialization leg, and a registry startup
fetch against a local HTTP server.
"""

from __future__ import annotations

import decimal
import json
import threading

import pytest

from pyspark.sql import functions as F

from nearscan_kafka_streams_spark.schemas import (
    ACTION_RECEIPT_ACTIONS_SCHEMA,
    RECEIPTS_SCHEMA,
    TOKEN_BALANCE_SCHEMA,
    TOKEN_TRANSFER_SCHEMA,
    TOPIC_SCHEMAS,
    avro_value_schema,
)
from nearscan_kafka_streams_spark.serde.avro import (
    AvroCodec,
    _zigzag_encode,
    confluent_frame,
    confluent_unframe,
)
from nearscan_kafka_streams_spark.serde.registry import (
    SchemaRegistryClient,
    StaticSchemaRegistry,
)
from nearscan_kafka_streams_spark.sinks.kafka import topic_payload
from nearscan_kafka_streams_spark.sources.kafka import decode_topic_values

D = decimal.Decimal


def _zz(n: int) -> bytes:
    out = bytearray()
    _zigzag_encode(n, out)
    return bytes(out)


def test_zigzag_varint_spec_vectors():
    """Pinned to the Apache Avro spec's binary-encoding examples."""
    assert _zz(0) == b"\x00"
    assert _zz(-1) == b"\x01"
    assert _zz(1) == b"\x02"
    assert _zz(-2) == b"\x03"
    assert _zz(2) == b"\x04"
    assert _zz(64) == b"\x80\x01"
    assert _zz(-64) == b"\x7f"


def test_decimal_bytes_match_java_biginteger():
    """Connect's Decimal serializer emits BigInteger.toByteArray."""
    from nearscan_kafka_streams_spark.serde.avro import (
        _bytes_to_decimal,
        _decimal_to_bytes,
    )

    vectors = {
        0: b"\x00",
        1: b"\x01",
        -1: b"\xff",
        127: b"\x7f",
        128: b"\x00\x80",
        -128: b"\x80",
        255: b"\x00\xff",
        -256: b"\xff\x00",
        10**27: None,  # yocto-NEAR magnitude: just round-trip
    }
    for n, want in vectors.items():
        got = _decimal_to_bytes(D(n), 0)
        if want is not None:
            assert got == want, n
        assert _bytes_to_decimal(got, 0) == D(n)


def test_confluent_frame_roundtrip():
    framed = confluent_frame(1234, b"\x02hi")
    assert framed[:1] == b"\x00" and len(framed) == 8
    sid, body = confluent_unframe(framed)
    assert sid == 1234 and body == b"\x02hi"
    with pytest.raises(ValueError):
        confluent_unframe(b"\x01\x00\x00\x00\x01")


SAMPLE_ROWS = {
    "receipts": {
        "receipt_id": "r1",
        "included_in_block_hash": "bh",
        "included_in_chunk_hash": "ch",
        "index_in_chunk": 3,
        "included_in_block_timestamp": D("1616161616161616161"),
        "predecessor_account_id": "alice.near",
        "receiver_account_id": "wrap.near",
        "receipt_kind": "ACTION",
        "originated_from_transaction_hash": "tx",
        "__deleted": None,
    },
    "execution_outcomes": {
        "receipt_id": "r1",
        "executed_in_block_hash": "bh2",
        "executed_in_block_timestamp": D("1616161616161616199"),
        "index_in_chunk": 0,
        "gas_burnt": D("424555062500"),
        "tokens_burnt": D("42455506250000000000"),
        "executor_account_id": "wrap.near",
        "status": "SUCCESS_VALUE",
        "shard_id": D("2"),
        "__deleted": "true",  # exercise the non-null union branch
    },
    "action_receipt_actions": {
        "receipt_id": "r1",
        "index_in_action_receipt": 0,
        "action_kind": "FUNCTION_CALL",
        "args": json.dumps({"method_name": "ft_transfer"}),
        "receipt_predecessor_account_id": "alice.near",
        "receipt_receiver_account_id": "wrap.near",
        "receipt_included_in_block_timestamp": D("1616161616161616161"),
        "__deleted": None,
    },
}


@pytest.mark.parametrize("topic", sorted(SAMPLE_ROWS))
def test_codec_roundtrip_per_topic(topic):
    codec = AvroCodec(avro_value_schema(topic))
    row = SAMPLE_ROWS[topic]
    assert codec.decode(codec.encode(row)) == row


def test_codec_negative_and_45_digit_amounts():
    """The wire schema declares decimal(45,0) (.avsc files); the codec
    must carry the full range even though Spark's columns cap at 38."""
    codec = AvroCodec(avro_value_schema("token_balance"))
    row = {
        "account": "a",
        "balance": -D(10**44 + 7),  # 45 digits, negative
        "block_timestamp": D("1616161616161616161"),
        "block_hash": "b",
        "chunk_hash": "c",
        "transaction_hash": "t",
        "receipt_id": "r",
        "index_in_chunk": 1,
    }
    assert codec.decode(codec.encode(row)) == row


def test_nested_union_of_records_roundtrip():
    """receipts_outcomes_actions-value.avsc shape: a record of three
    nullable named-record fields (the reference's join output)."""
    inner = avro_value_schema("receipts")
    schema = {
        "type": "record",
        "name": "Value",
        "namespace": "near.indexer.receipts_outcomes_actions",
        "fields": [
            {"name": "receipt", "type": ["null", inner], "default": None},
            {
                "name": "outcome",
                "type": ["null", "near.indexer.receipts.Value"],
                "default": None,
            },
        ],
    }
    codec = AvroCodec(schema)
    row = {"receipt": SAMPLE_ROWS["receipts"], "outcome": None}
    assert codec.decode(codec.encode(row)) == row


def _spark_roundtrip(spark, topic, rows):
    """rows -> Spark encode UDF -> framed bytes -> the Kafka reader's
    decode -> rows.  Both legs execute inside real Spark plans."""
    schema = TOPIC_SCHEMAS[topic][0]
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in schema.fields) for r in rows], schema
    )
    wire = topic_payload(
        df, key_col=schema.fields[0].name, wire_format="avro",
        avro_schema=avro_value_schema(topic), schema_id=7,
    )
    assert dict(wire.dtypes)["value"] == "binary"
    back = decode_topic_values(
        wire, schema, wire_format="avro",
        avro_schema_json=json.dumps(avro_value_schema(topic)),
    ).drop("kafka_key")
    return df, back


def test_spark_wire_roundtrip_receipts(spark):
    rows = [SAMPLE_ROWS["receipts"],
            {**SAMPLE_ROWS["receipts"], "receipt_id": "r2", "__deleted": "x"}]
    df, back = _spark_roundtrip(spark, "receipts", rows)
    # nullability loosens through the struct extraction; names+types hold
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in df.schema.fields
    ]
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_spark_wire_roundtrip_outcomes(spark):
    df, back = _spark_roundtrip(
        spark, "execution_outcomes", [SAMPLE_ROWS["execution_outcomes"]]
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_spark_wire_frame_header(spark):
    """First 5 bytes on the wire are magic 0x00 + schema id 7."""
    _, _ = 0, 0
    schema = TOPIC_SCHEMAS["receipts"][0]
    df = (
        _spark_roundtrip(spark, "receipts", [SAMPLE_ROWS["receipts"]])[0]
    )
    wire = topic_payload(
        df, "receipt_id", "avro", avro_value_schema("receipts"), schema_id=7
    )
    blob = bytes(wire.select("value").first()[0])
    sid, body = confluent_unframe(blob)
    assert sid == 7
    assert AvroCodec(avro_value_schema("receipts")).decode(body)[
        "receipt_id"
    ] == "r1"


def test_over_precision_decimal_fails_the_read(spark):
    """A 45-digit wire amount exceeds Spark's decimal(38,0): the read
    fails naming the field and the record, instead of a null that would
    drop the balance row without a trace."""
    codec = AvroCodec(avro_value_schema("token_balance"))
    row = dict(
        account="a", balance=D(10**44), block_timestamp=D(1),
        block_hash="b", chunk_hash="c", transaction_hash="t",
        receipt_id="r", index_in_chunk=0,
    )
    framed = confluent_frame(1, codec.encode(row))
    wire = spark.createDataFrame([("a", bytearray(framed))], "key string, value binary")
    out = decode_topic_values(
        wire, TOKEN_BALANCE_SCHEMA, "avro",
        avro_schema_json=json.dumps(avro_value_schema("token_balance")),
    )
    with pytest.raises(
        Exception,
        match=r"record 0: field balance: 45-digit value does not fit "
        r"decimal\(38,0\)",
    ):
        out.collect()


def test_streaming_avro_serialization_leg(spark, tmp_path):
    """S3's serialization executes under a real streaming query: file
    stream -> topic_payload(avro) -> parquet bridge -> decode equals
    input (write_topic_stream shares this payload builder; only the
    broker handoff needs the connector jar)."""
    schema = TOPIC_SCHEMAS["receipts"][0]
    src = tmp_path / "in"
    src.mkdir()
    row = {k: (str(v) if isinstance(v, D) else v)
           for k, v in SAMPLE_ROWS["receipts"].items()}
    (src / "a.json").write_text(json.dumps(row) + "\n")

    stream = spark.readStream.schema(schema).json(str(src))
    payload = topic_payload(
        stream, "receipt_id", "avro", avro_value_schema("receipts"), schema_id=3
    )
    q = (
        payload.writeStream.format("parquet")
        .option("path", str(tmp_path / "wire"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    wire = spark.read.parquet(str(tmp_path / "wire"))
    back = decode_topic_values(
        wire, schema, "avro",
        avro_schema_json=json.dumps(avro_value_schema("receipts")),
    ).first()
    assert back["receipt_id"] == "r1"
    assert back["included_in_block_timestamp"] == D("1616161616161616161")


def test_schema_registry_startup_fetch():
    """Registry parity (util/Schemas.java:113-136): fetch the latest
    value schema over the Confluent SR REST API -- served here by a
    local HTTP server -- and decode a frame with it."""
    import http.server

    schema_json = json.dumps(avro_value_schema("receipts"))
    payload = json.dumps(
        {"id": 42, "version": 1, "subject": "near.indexer.receipts-value",
         "schema": schema_json}
    ).encode()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            assert self.path == "/subjects/near.indexer.receipts-value/versions/latest"
            self.send_response(200)
            self.send_header("Content-Type", "application/vnd.schemaregistry.v1+json")
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):  # keep pytest output clean
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        client = SchemaRegistryClient(f"http://127.0.0.1:{srv.server_port}")
        sid, fetched = client.latest("near.indexer.receipts-value")
    finally:
        srv.shutdown()
    assert sid == 42
    codec = AvroCodec(fetched)
    assert codec.decode(codec.encode(SAMPLE_ROWS["receipts"])) == SAMPLE_ROWS["receipts"]


def test_static_registry_resolves_subjects():
    reg = StaticSchemaRegistry(
        {"t-value": (5, json.dumps(avro_value_schema("token_transfer")))}
    )
    sid, sch = reg.latest("t-value")
    assert sid == 5 and reg.by_id(5) == sch
    assert json.loads(sch)["fields"][0]["name"] == "receipt_id"


def test_codec_property_roundtrip():
    """Property-based: arbitrary values of the receipts value schema
    (unicode strings, full int range, 45-digit signed decimals,
    null/present unions) survive encode->decode bit-exactly."""
    import decimal as _dec

    from hypothesis import given, settings
    from hypothesis import strategies as st

    codec = AvroCodec(avro_value_schema("execution_outcomes"))
    dec45 = st.integers(
        min_value=-(10**45) + 1, max_value=10**45 - 1
    ).map(lambda n: _dec.Decimal(n))
    dec20 = st.integers(min_value=0, max_value=10**20 - 1).map(
        lambda n: _dec.Decimal(n)
    )
    text = st.text(max_size=50)
    rows = st.fixed_dictionaries(
        {
            "receipt_id": text,
            "executed_in_block_hash": text,
            "executed_in_block_timestamp": dec20,
            "index_in_chunk": st.integers(-(2**31), 2**31 - 1),
            "gas_burnt": dec20,
            "tokens_burnt": dec45,
            "executor_account_id": text,
            "status": st.sampled_from(
                ["UNKNOWN", "FAILURE", "SUCCESS_VALUE", "SUCCESS_RECEIPT_ID"]
            ),
            "shard_id": dec20,
            "__deleted": st.one_of(st.none(), text),
        }
    )

    @settings(max_examples=200, deadline=None)
    @given(rows)
    def check(row):
        assert codec.decode(codec.encode(row)) == row

    check()


def test_encode_none_for_non_nullable_field_raises():
    """None reaching a non-null schema branch must fail encode-time,
    not serialize the string "None" into the frame."""
    codec = AvroCodec(avro_value_schema("receipts"))
    row = dict(SAMPLE_ROWS["receipts"])
    row["receipt_id"] = None  # non-nullable string field
    with pytest.raises(ValueError, match="None"):
        codec.encode(row)
