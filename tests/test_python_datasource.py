"""Confluent-framed Avro logs through ``read_segments`` (Spark's
``binaryFile`` source + one Arrow decode function), and the write leg
``format("confluentavro")`` -- the engine-native read and write paths
for the reference's wire format without a broker or connector jar."""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from nearscan_kafka_streams_spark.schemas import (
    RECEIPTS_SCHEMA,
    avro_value_schema,
)
from nearscan_kafka_streams_spark.serde.avro import (
    AvroCodec,
    confluent_frame,
    confluent_unframe,
)
from nearscan_kafka_streams_spark.serde.avro_vec import (
    FrameError,
    decode_frames,
)
from nearscan_kafka_streams_spark.sources.pyds import (
    ConfluentAvroDataSource,
    _scan_segment,
    read_segments,
    write_framed_log,
)


def _read_receipts(spark, path):
    return read_segments(
        spark.read, path, RECEIPTS_SCHEMA, avro_value_schema("receipts")
    )


def _stage_logs(spark, tmp_path, n_files=2):
    """Encode the receipts fixture through the real wire codec into
    n length-prefixed log files."""
    from fixtures_near import to_dataframes

    r, _, _, _ = to_dataframes(spark)
    rows = [row.asDict() for row in r.collect()]
    codec = AvroCodec(avro_value_schema("receipts"))
    framed = [confluent_frame(7, codec.encode(row)) for row in rows]
    d = tmp_path / "receipts_log"
    for i in range(n_files):
        write_framed_log(
            framed[i::n_files], str(d / f"part-{i:05d}.bin")
        )
    return str(d), rows


def test_datasource_round_trips_wire_bytes(spark, tmp_path):
    path, rows = _stage_logs(spark, tmp_path)
    df = _read_receipts(spark, path)
    got = sorted(
        (r["receipt_id"], str(r["included_in_block_timestamp"]))
        for r in df.collect()
    )
    want = sorted(
        (row["receipt_id"], str(row["included_in_block_timestamp"]))
        for row in rows
    )
    assert got == want
    assert df.schema == RECEIPTS_SCHEMA


def test_datasource_feeds_the_topology(spark, tmp_path):
    """The decoded segments compose with the engine like any
    DataFrame: run the dedup + event-time derivation over them."""
    from nearscan_kafka_streams_spark.operators.dedup import dedup_batch
    from nearscan_kafka_streams_spark.schemas import with_event_time

    path, rows = _stage_logs(spark, tmp_path)
    df = _read_receipts(spark, path)
    out = dedup_batch(
        with_event_time(df, "included_in_block_timestamp"),
        ["receipt_id"],
    )
    assert out.count() == len({r["receipt_id"] for r in rows})


def test_write_leg_round_trips(spark, tmp_path):
    """df.write.format('confluentavro') -> read back with
    read_segments: the engine-native SINK leg (S3's wire serialization)
    through the 2-phase staged-segment commit."""
    import json as _json

    from fixtures_near import to_dataframes

    r, _, _, _ = to_dataframes(spark)
    spark.dataSource.register(ConfluentAvroDataSource)
    d = str(tmp_path / "written")
    import os as _os

    _os.makedirs(d, exist_ok=True)
    (
        r.repartition(3)
        .write.format("confluentavro")
        .option("path", d)
        .option("avro_schema", _json.dumps(avro_value_schema("receipts")))
        .option("schema_id", "42")
        .mode("append")
        .save()
    )
    files = [f for f in _os.listdir(d) if f.startswith("part-")]
    assert len(files) == 3
    assert not any(f.startswith("_staged-") for f in _os.listdir(d))

    back = _read_receipts(spark, d)
    assert sorted(x["receipt_id"] for x in back.collect()) == sorted(
        x["receipt_id"] for x in r.collect()
    )


def test_write_leg_append_twice_keeps_both_commits(spark, tmp_path):
    """mode('append') into a directory that already has committed
    segments must not collide with (and overwrite) them: committed
    names carry a per-commit id, so both writes' records survive."""
    import json as _json
    import os as _os

    from fixtures_near import to_dataframes

    r, _, _, _ = to_dataframes(spark)
    spark.dataSource.register(ConfluentAvroDataSource)
    d = str(tmp_path / "appended")
    _os.makedirs(d, exist_ok=True)

    def wr(df):
        (
            df.repartition(2)
            .write.format("confluentavro")
            .option("path", d)
            .option("avro_schema", _json.dumps(avro_value_schema("receipts")))
            .mode("append")
            .save()
        )

    wr(r)
    wr(r)  # second commit: same partition count, same would-be names
    files = [f for f in _os.listdir(d) if f.startswith("part-")]
    assert len(files) == 4, files

    back = _read_receipts(spark, d)
    assert back.count() == 2 * r.count()


def test_write_leg_overwrite_replaces_prior_commit(spark, tmp_path):
    """mode('overwrite'): superseded segments are removed only AFTER
    the new ones are in place, and the surviving contents equal exactly
    the new commit."""
    import json as _json
    import os as _os

    from fixtures_near import to_dataframes

    r, _, _, _ = to_dataframes(spark)
    spark.dataSource.register(ConfluentAvroDataSource)
    d = str(tmp_path / "overwritten")
    _os.makedirs(d, exist_ok=True)

    def wr(df, mode):
        (
            df.repartition(2)
            .write.format("confluentavro")
            .option("path", d)
            .option("avro_schema", _json.dumps(avro_value_schema("receipts")))
            .mode(mode)
            .save()
        )

    wr(r, "append")
    subset = r.limit(2)
    wr(subset, "overwrite")
    back = _read_receipts(spark, d)
    assert back.count() == 2


# the same two fields under two Avro schemas: the first is vectorizable,
# the second's long-first union makes VectorizedDecoder refuse it, so
# its segments decode on the row codec only
N_S_SCHEMA = StructType(
    [
        StructField("n", LongType(), True),
        StructField("s", StringType(), True),
    ]
)
N_S_AVRO = {
    "vector": {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "n", "type": "long"},
            {"name": "s", "type": "string"},
        ],
    },
    "row": {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "n", "type": ["long", "null"]},
            {"name": "s", "type": "string"},
        ],
    },
}

# corruption -> the message the read must fail with
CORRUPTIONS = {
    "truncated_length_header": "truncated length header",
    "truncated_record": "truncated record",
    "short_frame": "shorter than magic",
    "bad_magic": "bad magic",
    "body_truncated_mid_field": "Avro body",
    "body_with_trailing_bytes": "Avro body",
}


def _corrupt_segment(tmp_path, case, lane):
    """One segment of two ``{n, s: "hello"}`` records with ``case``
    applied to the first record (or to the file's tail).  A body cut
    two bytes short ends inside ``s``, so an unchecked decoder reads
    the next record's length header as the string's last bytes."""
    codec = AvroCodec(N_S_AVRO[lane])
    good = [
        confluent_frame(7, codec.encode({"n": i, "s": "hello"}))
        for i in range(2)
    ]
    frames = {
        "short_frame": [good[0], b"\x00\x00\x00", good[1]],
        "bad_magic": [b"\x01" + good[0][1:], good[1]],
        "body_truncated_mid_field": [good[0][:-2], good[1]],
        "body_with_trailing_bytes": [good[0] + b"\x00\x00", good[1]],
    }.get(case, good)
    path = tmp_path / f"{case}-{lane}" / "part-00000.bin"
    write_framed_log(frames, str(path))
    data = path.read_bytes()
    if case == "truncated_length_header":
        path.write_bytes(data + b"\x00\x00")
    elif case == "truncated_record":
        path.write_bytes(data[:-3])
    return path


def test_short_frame_rejected(tmp_path):
    from pyspark.sql.pandas.types import to_arrow_schema

    data = _corrupt_segment(tmp_path, "short_frame", "vector").read_bytes()
    with pytest.raises(ValueError, match="shorter than magic"):
        confluent_unframe(b"\x00\x00\x00")
    buf, starts, ends = _scan_segment(data)
    arrow = to_arrow_schema(N_S_SCHEMA)
    with pytest.raises(FrameError, match="record 1: 3-byte frame") as err:
        list(decode_frames(buf, starts, ends, N_S_AVRO["vector"], arrow))
    assert err.value.record == 1
    # the record before the short frame decodes on its own
    (batch,) = decode_frames(buf, starts[:1], ends[:1], N_S_AVRO["vector"], arrow)
    assert batch.to_pylist() == [{"n": 0, "s": "hello"}]


def test_segment_over_binary_file_max_length_fails_naming_it(spark, tmp_path):
    """A segment larger than ``spark.sql.sources.binaryFile.maxLength``
    cannot arrive as one row: the read fails and names the file."""
    path, _ = _stage_logs(spark, tmp_path, n_files=1)
    seg = f"{path}/part-00000.bin"
    size = os.path.getsize(seg)
    key = "spark.sql.sources.binaryFile.maxLength"
    spark.conf.set(key, str(size - 1))
    try:
        with pytest.raises(Exception, match=str(size)) as err:
            _read_receipts(spark, path).collect()
    finally:
        spark.conf.unset(key)
    assert "part-00000.bin" in str(err.value)


@pytest.mark.parametrize("lane", ["vector", "row"])
@pytest.mark.parametrize("case", list(CORRUPTIONS))
def test_datasource_read_fails_on_corrupt_segment(spark, tmp_path, case, lane):
    from pyspark.sql.pandas.types import to_arrow_schema

    from nearscan_kafka_streams_spark.serde.avro_vec import VectorizedDecoder

    avro = N_S_AVRO[lane]
    assert VectorizedDecoder.supports(avro, to_arrow_schema(N_S_SCHEMA)) == (
        lane == "vector"
    )
    path = _corrupt_segment(tmp_path, case, lane)
    df = read_segments(spark.read, str(path.parent), N_S_SCHEMA, avro)
    with pytest.raises(Exception, match=CORRUPTIONS[case]) as err:
        df.collect()
    assert f"{case}-{lane}/part-00000.bin" in str(err.value)
