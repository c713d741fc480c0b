"""The segment reader and the Kafka reader decode the same Confluent
frames the same way: identical rows on clean data, and the same error,
naming the record (and the field for a decimal that does not fit), on
a frame or value that does not fit.  The segment reader's error names
the segment, the Kafka reader's the topic, partition and offset."""

from __future__ import annotations

import decimal
import json
import re

import pytest

from nearscan_kafka_streams_spark.schemas import TOPIC_SCHEMAS, avro_value_schema
from nearscan_kafka_streams_spark.serde.avro import AvroCodec, confluent_frame
from nearscan_kafka_streams_spark.sources.kafka import decode_topic_values
from nearscan_kafka_streams_spark.sources.pyds import (
    read_segments,
    write_framed_log,
)

D = decimal.Decimal
OFFSET0 = 100  # Kafka offset of the first frame


def _rows(topic: str) -> list[dict]:
    """Three records of ``topic``; execution_outcomes carries the
    widest values that still fit (gas 10^19 in decimal(20,0), tokens
    10^37 in decimal(38,0))."""
    if topic == "receipts":
        return [
            {
                "receipt_id": f"r{i}",
                "included_in_block_hash": "bh",
                "included_in_chunk_hash": "ch",
                "index_in_chunk": i,
                "included_in_block_timestamp": D(1616161616161616161 + i),
                "predecessor_account_id": "alice.near",
                "receiver_account_id": "wrap.near",
                "receipt_kind": "ACTION",
                "originated_from_transaction_hash": "tx",
                "__deleted": None if i else "false",
            }
            for i in range(3)
        ]
    if topic == "execution_outcomes":
        return [
            {
                "receipt_id": f"r{i}",
                "executed_in_block_hash": "bh2",
                "executed_in_block_timestamp": D(1616161616161616199),
                "index_in_chunk": -i,
                "gas_burnt": D(10**19 + i),
                "tokens_burnt": D(10**37 - i),
                "executor_account_id": "wrap.near",
                "status": "SUCCESS_VALUE",
                "shard_id": D(i),
                "__deleted": "true",
            }
            for i in range(3)
        ]
    return [
        {
            "receipt_id": f"r{i}",
            "index_in_action_receipt": i,
            "action_kind": "FUNCTION_CALL",
            "args": json.dumps({"method_name": "ft_transfer", "i": i}),
            "receipt_predecessor_account_id": "alice.near",
            "receipt_receiver_account_id": "wrap.near",
            "receipt_included_in_block_timestamp": D(1616161616161616161),
            "__deleted": None,
        }
        for i in range(3)
    ]


def _read_both(spark, tmp_path, topic, frames):
    """(segment reader, Kafka reader) DataFrames over ``frames``: one
    segment file, and one partition of (key, value, topic, partition,
    offset) rows in the same order."""
    schema = TOPIC_SCHEMAS[topic][0]
    avro = avro_value_schema(topic)
    seg_dir = tmp_path / topic
    write_framed_log(frames, str(seg_dir / "part-00000.bin"))
    segments = read_segments(spark.read, str(seg_dir), schema, avro)
    raw = spark.createDataFrame(
        [
            (f"k{i}".encode(), bytearray(f), topic, 3, OFFSET0 + i)
            for i, f in enumerate(frames)
        ],
        "key binary, value binary, topic string, partition int, offset long",
    ).coalesce(1)
    kafka = decode_topic_values(raw, schema, "avro", json.dumps(avro))
    return segments, kafka


@pytest.mark.parametrize(
    "topic", ["action_receipt_actions", "execution_outcomes", "receipts"]
)
def test_readers_decode_identical_rows(spark, tmp_path, topic):
    codec = AvroCodec(avro_value_schema(topic))
    rows = _rows(topic)
    frames = [confluent_frame(7, codec.encode(r)) for r in rows]
    segments, kafka = _read_both(spark, tmp_path, topic, frames)
    got_kafka = kafka.collect()
    assert [r["kafka_key"] for r in got_kafka] == ["k0", "k1", "k2"]
    names = [f.name for f in TOPIC_SCHEMAS[topic][0].fields]
    assert kafka.columns == ["kafka_key", *names]
    assert [tuple(r)[1:] for r in got_kafka] == [
        tuple(r) for r in segments.collect()
    ]
    assert [r.asDict() for r in segments.collect()] == rows


def _bad_frames(case: str) -> list[bytes]:
    """Three execution_outcomes frames with ``case`` applied to the
    second (record 1)."""
    codec = AvroCodec(avro_value_schema("execution_outcomes"))
    rows = _rows("execution_outcomes")
    if case == "gas_burnt_1e25":
        rows[1]["gas_burnt"] = D(10**25)
    elif case == "tokens_burnt_1e39":
        rows[1]["tokens_burnt"] = D(10**39)
    frames = [confluent_frame(7, codec.encode(r)) for r in rows]
    good = frames[1]
    frames[1] = {
        "bad_magic": b"\x07" + good[1:],
        "short_frame": b"\x00\x00\x00",
        # the last field is the string "true": cut inside it
        "body_truncated_mid_field": good[:-2],
        "body_with_trailing_bytes": good + b"\x00\x00",
    }.get(case, good)
    return frames


# case -> what the shared error says about record 1
BAD_CASES = {
    "gas_burnt_1e25": r"field gas_burnt: 26-digit value does not fit "
    r"decimal\(20,0\)",
    "tokens_burnt_1e39": r"field tokens_burnt: 40-digit value does not "
    r"fit decimal\(38,0\)",
    "bad_magic": r"bad magic byte 0x07",
    "short_frame": r"3-byte frame is shorter than magic",
    "body_truncated_mid_field": r"Avro body",
    "body_with_trailing_bytes": r"Avro body",
}


def _frame_error(df) -> tuple[str, str]:
    """(the decode error's message, the whole error text) of
    collecting ``df``."""
    with pytest.raises(Exception) as err:
        df.collect()
    text = str(err.value)
    found = re.findall(r"FrameError: (record \d+: [^\n]*)", text)
    assert found, text
    return found[-1], text


@pytest.mark.parametrize("case", list(BAD_CASES))
def test_readers_fail_the_same_way(spark, tmp_path, case):
    segments, kafka = _read_both(
        spark, tmp_path, "execution_outcomes", _bad_frames(case)
    )
    seg_msg, seg_text = _frame_error(segments)
    kafka_msg, kafka_text = _frame_error(kafka)
    assert seg_msg == kafka_msg
    assert re.match(rf"record 1: .*{BAD_CASES[case]}", seg_msg), seg_msg
    assert "execution_outcomes/part-00000.bin" in seg_text
    assert (
        f"topic execution_outcomes partition 3 offset {OFFSET0 + 1}"
        in kafka_text
    )
