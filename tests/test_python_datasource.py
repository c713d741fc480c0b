"""Confluent-framed Avro logs through ``read_segments`` (Spark's
``binaryFile`` source + one Arrow decode function), and the write leg
``format("confluentavro")`` -- the engine-native read and write paths
for the reference's wire format without a broker or connector jar."""

from __future__ import annotations

import os

import pytest

from nearscan_kafka_streams_spark.schemas import (
    RECEIPTS_SCHEMA,
    avro_value_schema,
)
from nearscan_kafka_streams_spark.serde.avro import (
    AvroCodec,
    confluent_frame,
    confluent_unframe,
)
from nearscan_kafka_streams_spark.sources.pyds import (
    ConfluentAvroDataSource,
    _scan_frame_bodies,
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


def _framed_log_with_short_frame(tmp_path):
    """Two valid receipts around a 3-byte frame (magic + 2 bytes): the
    short frame's would-be body start is the next record's length
    header."""
    from fixtures_near import build_fixture

    receipts = build_fixture()[0][:2]
    codec = AvroCodec(avro_value_schema("receipts"))
    good = [confluent_frame(7, codec.encode(r)) for r in receipts]
    path = str(tmp_path / "short_log" / "part-00000.bin")
    write_framed_log([good[0], b"\x00\x00\x00", good[1]], path)
    return path


def test_short_frame_rejected(tmp_path):
    path = _framed_log_with_short_frame(tmp_path)
    with open(path, "rb") as fh:
        data = fh.read()
    with pytest.raises(ValueError, match="shorter than magic"):
        confluent_unframe(b"\x00\x00\x00")
    with pytest.raises(ValueError, match="shorter than magic"):
        _scan_frame_bodies(data)
    # the record before the short frame scans on its own
    first = int.from_bytes(data[:4], "big")
    _buf, starts, ends = _scan_frame_bodies(data[: 4 + first])
    assert list(starts) == [4 + 5] and list(ends) == [4 + first]


def test_datasource_read_fails_on_short_frame(spark, tmp_path):
    path = _framed_log_with_short_frame(tmp_path)
    df = _read_receipts(spark, os.path.dirname(path))
    with pytest.raises(Exception, match="shorter than magic") as err:
        df.collect()
    assert "short_log/part-00000.bin" in str(err.value)
