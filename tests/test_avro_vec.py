"""Byte-exactness gate for the vectorized Avro decoder: for every
schema VectorizedDecoder.supports() accepts, decode_batch must produce
EXACTLY the rows AvroCodec.decode produces over the same wire bytes
(round-12 verdict item 3: the vectorized rewrite ships only behind
byte-exact codec tests).  No Spark session needed -- the Arrow schema
image is a pure function of the StructType."""

from __future__ import annotations

import decimal
import random

import numpy as np
import pyarrow as pa
import pytest

from pyspark.sql.types import (
    BooleanType,
    DecimalType,
    DoubleType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from nearscan_kafka_streams_spark.schemas import (
    AVRO_PRECISION_OVERRIDES,
    TOPIC_SCHEMAS,
)
from nearscan_kafka_streams_spark.serde.avro import (
    AvroCodec,
    avro_schema_from_struct,
)
from nearscan_kafka_streams_spark.serde.avro_vec import VectorizedDecoder


def _arrow_schema(struct):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(struct)


def _pack(bodies):
    """Concatenate Avro bodies into one padded buffer + starts and ends
    vectors (the shape decode_frames hands the decoder)."""
    starts = []
    pos = 0
    chunks = []
    for b in bodies:
        starts.append(pos)
        chunks.append(b)
        pos += len(b)
    buf = np.frombuffer(
        b"".join(chunks) + b"\x00" * 16, dtype=np.uint8
    ).copy()
    starts = np.asarray(starts, dtype=np.int64)
    ends = starts + np.asarray([len(b) for b in bodies], dtype=np.int64)
    return buf, starts, ends


def _decode_both(struct, avro_schema, records):
    codec = AvroCodec(avro_schema)
    bodies = [codec.encode(r) for r in records]
    expected = [codec.decode(b) for b in bodies]
    arrow_schema = _arrow_schema(struct)
    assert VectorizedDecoder.supports(avro_schema, arrow_schema)
    dec = VectorizedDecoder(avro_schema, arrow_schema)
    batch = dec.decode_batch(*_pack(bodies))
    names = [f.name for f in struct.fields]
    got = batch.to_pylist()
    assert len(got) == len(expected)
    for g, e in zip(got, expected):
        for n in names:
            gv, ev = g[n], e.get(n)
            if isinstance(ev, float) and isinstance(gv, float):
                assert (gv == ev) or (gv != gv and ev != ev), (n, gv, ev)
            else:
                assert gv == ev, (n, gv, ev)
    return batch


def _rand_string(rng):
    pools = [
        "",
        "a",
        "hello world",
        "x" * 300,  # multi-byte varint length
        "é☃\U0001f600 mixed",  # 2/3/4-byte utf-8
        "near.account." + str(rng.randrange(10**12)),
    ]
    return rng.choice(pools)


def _rand_record(struct, rng, overrides):
    rec = {}
    for f in struct.fields:
        if f.nullable and rng.random() < 0.3:
            rec[f.name] = None
            continue
        t = f.dataType.simpleString()
        if t == "string":
            rec[f.name] = _rand_string(rng)
        elif t == "int":
            rec[f.name] = rng.choice(
                [0, 1, -1, 63, -64, 2**31 - 1, -(2**31), rng.randrange(-1000, 1000)]
            )
        elif t == "bigint":
            rec[f.name] = rng.choice(
                [0, -1, 2**62, -(2**63), 2**63 - 1, rng.randrange(-(10**6), 10**6)]
            )
        elif t == "boolean":
            rec[f.name] = rng.random() < 0.5
        elif t == "float":
            rec[f.name] = rng.choice([0.0, -1.5, 3.25, 1e30])
        elif t == "double":
            rec[f.name] = rng.choice([0.0, -1.5e-300, 3.141592653589793])
        elif t.startswith("decimal"):
            prec = overrides.get(f.name, f.dataType.precision)
            digits = rng.randrange(1, min(prec, 38) + 1)
            mag = rng.randrange(0, 10**digits)
            v = decimal.Decimal(mag) * (1 if rng.random() < 0.7 else -1)
            rec[f.name] = v.scaleb(-f.dataType.scale)
        else:  # pragma: no cover
            raise AssertionError(t)
    return rec


@pytest.mark.parametrize("topic", sorted(TOPIC_SCHEMAS))
def test_topic_schemas_byte_exact(topic):
    struct = TOPIC_SCHEMAS[topic][0]
    avro = avro_schema_from_struct(
        struct,
        name="Value",
        namespace=f"near.indexer.{topic}",
        precision_overrides=AVRO_PRECISION_OVERRIDES,
    )
    rng = random.Random(hash(topic) & 0xFFFF)
    records = [_rand_record(struct, rng, AVRO_PRECISION_OVERRIDES) for _ in range(500)]
    batch = _decode_both(struct, avro, records)
    assert batch.num_rows == 500


def test_all_primitive_types_byte_exact():
    struct = StructType(
        [
            StructField("b", BooleanType(), True),
            StructField("f", FloatType(), True),
            StructField("d", DoubleType(), False),
            StructField("l", LongType(), True),
        ]
    )
    avro = avro_schema_from_struct(struct, name="Prim")
    rng = random.Random(7)
    records = [_rand_record(struct, rng, {}) for _ in range(300)]
    _decode_both(struct, avro, records)


def test_decimal_edges_byte_exact():
    struct = TOPIC_SCHEMAS["execution_outcomes"][0]
    avro = avro_schema_from_struct(
        struct,
        name="Value",
        namespace="near.indexer.execution_outcomes",
        precision_overrides=AVRO_PRECISION_OVERRIDES,
    )
    base = {f.name: "" for f in struct.fields if f.dataType.simpleString() == "string"}
    base["index_in_chunk"] = 0
    edges = [0, 1, -1, 127, -128, 10**19, 10**38 - 1, -(10**38) + 1, 2**119, -(2**119)]
    records = []
    for v in edges:
        r = dict(base)
        r["executed_in_block_timestamp"] = decimal.Decimal(min(abs(v), 10**19))
        r["gas_burnt"] = decimal.Decimal(0)
        r["shard_id"] = decimal.Decimal(3)
        r["tokens_burnt"] = decimal.Decimal(v)
        r["__deleted"] = None
        records.append(r)
    _decode_both(struct, avro, records)


def test_oversized_decimal_refused_not_corrupted():
    # magnitude >= 2^120 exceeds decimal128 storage: the vector path
    # must REFUSE (caller falls back to the row path, which raises in
    # the Arrow conversion) -- never silently truncate
    struct = TOPIC_SCHEMAS["execution_outcomes"][0]
    avro = avro_schema_from_struct(
        struct,
        name="Value",
        namespace="near.indexer.execution_outcomes",
        precision_overrides=AVRO_PRECISION_OVERRIDES,
    )
    codec = AvroCodec(avro)
    rec = {f.name: ("" if f.dataType.simpleString() == "string" else None) for f in struct.fields}
    rec["index_in_chunk"] = 0
    rec["executed_in_block_timestamp"] = decimal.Decimal(1)
    rec["gas_burnt"] = decimal.Decimal(1)
    rec["shard_id"] = decimal.Decimal(1)
    rec["tokens_burnt"] = decimal.Decimal(2**130)  # 17-byte two's complement
    body = codec.encode(rec)
    dec = VectorizedDecoder(avro, _arrow_schema(struct))
    with pytest.raises(OverflowError):
        dec.decode_batch(*_pack([body]))


def test_unsupported_schemas_refused():
    arrow = pa.schema([pa.field("a", pa.int64())])
    # array type -> not vectorizable
    assert not VectorizedDecoder.supports(
        {"type": "record", "name": "R", "fields": [
            {"name": "a", "type": {"type": "array", "items": "long"}}]},
        arrow,
    )
    # non-null-first union
    assert not VectorizedDecoder.supports(
        {"type": "record", "name": "R", "fields": [
            {"name": "a", "type": ["long", "null"]}]},
        arrow,
    )
    # nested record
    assert not VectorizedDecoder.supports(
        {"type": "record", "name": "R", "fields": [
            {"name": "a", "type": {"type": "record", "name": "S", "fields": []}}]},
        arrow,
    )
    # scale mismatch between wire decimal and arrow image
    assert not VectorizedDecoder.supports(
        {"type": "record", "name": "R", "fields": [
            {"name": "a", "type": {"type": "bytes", "logicalType": "decimal",
                                   "precision": 38, "scale": 2}}]},
        pa.schema([pa.field("a", pa.decimal128(38, 0))]),
    )
    # flat + null-first union + matching decimal -> vectorizable
    assert VectorizedDecoder.supports(
        {"type": "record", "name": "R", "fields": [
            {"name": "a", "type": ["null", "string"], "default": None},
            {"name": "b", "type": {"type": "bytes", "logicalType": "decimal",
                                   "precision": 45, "scale": 0}}]},
        pa.schema([pa.field("a", pa.string()), pa.field("b", pa.decimal128(38, 0))]),
    )


def test_empty_batch():
    struct = TOPIC_SCHEMAS["receipts"][0]
    avro = avro_schema_from_struct(
        struct, name="Value", namespace="near.indexer.receipts",
        precision_overrides=AVRO_PRECISION_OVERRIDES,
    )
    dec = VectorizedDecoder(avro, _arrow_schema(struct))
    batch = dec.decode_batch(*_pack([]))
    assert batch.num_rows == 0


def _frames(bodies):
    """``_pack`` of the Confluent frames of ``bodies``: the input of
    ``decode_frames``."""
    from nearscan_kafka_streams_spark.serde.avro import confluent_frame

    return _pack([confluent_frame(1, b) for b in bodies])


def test_mid_file_vector_failure_resumes_on_row_path():
    # record 2's decimal is sign-extended to 17 bytes: valid Avro that
    # the row codec reads, but wider than decimal128 storage, so the
    # vector decoder refuses it.  With batch_size=2 the first batch
    # comes from the vector path and the rest from the row path,
    # starting at the batch that failed.
    from nearscan_kafka_streams_spark.serde.avro_vec import decode_frames

    struct = StructType(
        [
            StructField("id", LongType(), False),
            StructField("amount", DecimalType(38, 0), True),
        ]
    )
    avro = avro_schema_from_struct(
        struct, name="R", precision_overrides={"amount": 45}
    )
    codec = AvroCodec(avro)
    bodies = [
        codec.encode({"id": i, "amount": decimal.Decimal(10**37 + i)})
        for i in range(5)
    ]
    small = codec.encode({"id": 2, "amount": decimal.Decimal(5)})
    assert small.endswith(b"\x02\x05")  # bytes of length 1: 0x05
    bodies[2] = small[:-2] + b"\x22" + b"\x00" * 16 + b"\x05"
    arrow_schema = _arrow_schema(struct)
    dec = VectorizedDecoder(avro, arrow_schema)
    with pytest.raises(OverflowError):
        dec.decode_batch(*_pack(bodies[2:3]))

    batches = list(decode_frames(*_frames(bodies), avro, arrow_schema, 2))
    assert [b.num_rows for b in batches] == [2, 2, 1]
    got = [row for b in batches for row in b.to_pylist()]
    want = [codec.decode(b) for b in bodies]
    assert got == want
    assert got[2] == {"id": 2, "amount": decimal.Decimal(5)}


def test_int32_offset_overflow_refused():
    # lengths only: a column summing past int32 would wrap in the cast
    from nearscan_kafka_streams_spark.serde.avro_vec import _int32_offsets

    ok = _int32_offsets(np.array([3, 0, 5], dtype=np.int64))
    assert list(ok) == [0, 3, 3, 8]
    edge = np.array([2**31 - 2, 1], dtype=np.int64)
    assert _int32_offsets(edge)[-1] == 2**31 - 1
    with pytest.raises(OverflowError):
        _int32_offsets(np.array([2**30, 2**30], dtype=np.int64))


def test_decoder_bug_propagates_instead_of_falling_back(monkeypatch):
    # only the decoder's refusal types send a batch to the row path; any
    # other error is a bug and must surface
    from nearscan_kafka_streams_spark.serde.avro_vec import decode_frames

    struct = StructType([StructField("id", LongType(), False)])
    avro = avro_schema_from_struct(struct, name="R")
    codec = AvroCodec(avro)
    frames = _frames([codec.encode({"id": i}) for i in range(3)])

    def broken(self, buf, body_starts, body_ends):
        raise RuntimeError("decoder bug")

    monkeypatch.setattr(VectorizedDecoder, "decode_batch", broken)
    with pytest.raises(RuntimeError, match="decoder bug"):
        list(decode_frames(*frames, avro, _arrow_schema(struct), 2))
