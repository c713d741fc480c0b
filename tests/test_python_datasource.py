"""Spark 4 Python DataSource: Confluent-framed Avro logs via
format("confluentavro") -- the engine-native read path for the
reference's wire format without a broker or connector jar."""

from __future__ import annotations

import json
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
    write_framed_log,
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
    spark.dataSource.register(ConfluentAvroDataSource)
    df = (
        spark.read.format("confluentavro")
        .schema(RECEIPTS_SCHEMA)
        .option("path", path)
        .option("avro_schema", json.dumps(avro_value_schema("receipts")))
        .load()
    )
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


def test_datasource_partitions_per_file(spark, tmp_path):
    path, _ = _stage_logs(spark, tmp_path, n_files=3)
    spark.dataSource.register(ConfluentAvroDataSource)
    df = (
        spark.read.format("confluentavro")
        .schema(RECEIPTS_SCHEMA)
        .option("path", path)
        .option("avro_schema", json.dumps(avro_value_schema("receipts")))
        .load()
    )
    assert df.rdd.getNumPartitions() == 3


def test_datasource_feeds_the_topology(spark, tmp_path):
    """The custom source composes with the engine like any DataFrame:
    run the dedup + event-time derivation over it."""
    from nearscan_kafka_streams_spark.operators.dedup import dedup_batch
    from nearscan_kafka_streams_spark.schemas import with_event_time

    path, rows = _stage_logs(spark, tmp_path)
    spark.dataSource.register(ConfluentAvroDataSource)
    df = (
        spark.read.format("confluentavro")
        .schema(RECEIPTS_SCHEMA)
        .option("path", path)
        .option("avro_schema", json.dumps(avro_value_schema("receipts")))
        .load()
    )
    out = dedup_batch(
        with_event_time(df, "included_in_block_timestamp"),
        ["receipt_id"],
    )
    assert out.count() == len({r["receipt_id"] for r in rows})


def test_streaming_source_resumes_from_checkpoint(spark, tmp_path):
    """readStream over the custom source: the committed offset (a
    per-file consumed-record map) survives a query restart -- the
    second run emits ONLY records appended after the first run, the
    exactly-once-offsets contract of the Kafka analog."""
    import json as _json

    path, rows = _stage_logs(spark, tmp_path, n_files=1)
    spark.dataSource.register(ConfluentAvroDataSource)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "stream_out")

    def run_once():
        q = (
            spark.readStream.format("confluentavro")
            .schema(RECEIPTS_SCHEMA)
            .option("path", path)
            .option(
                "avro_schema",
                _json.dumps(avro_value_schema("receipts")),
            )
            .load()
            .select("receipt_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = spark.read.parquet(out).count()
    assert first == len(rows)

    # append a new immutable segment, restart from the checkpoint
    codec = AvroCodec(avro_value_schema("receipts"))
    extra = dict(rows[0])
    extra["receipt_id"] = "rx-appended"
    write_framed_log(
        [confluent_frame(7, codec.encode(extra))],
        path + "/part-99999.bin",
    )
    run_once()
    after = spark.read.parquet(out)
    assert after.count() == first + 1
    assert (
        after.where("receipt_id = 'rx-appended'").count() == 1
    )


def test_write_leg_round_trips(spark, tmp_path):
    """df.write.format('confluentavro') -> read back with the same
    format: the engine-native SINK leg (S3's wire serialization)
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

    back = (
        spark.read.format("confluentavro")
        .schema(RECEIPTS_SCHEMA)
        .option("path", d)
        .option("avro_schema", _json.dumps(avro_value_schema("receipts")))
        .load()
    )
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

    back = (
        spark.read.format("confluentavro")
        .schema(RECEIPTS_SCHEMA)
        .option("path", d)
        .option("avro_schema", _json.dumps(avro_value_schema("receipts")))
        .load()
    )
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
    back = (
        spark.read.format("confluentavro")
        .schema(RECEIPTS_SCHEMA)
        .option("path", d)
        .option("avro_schema", _json.dumps(avro_value_schema("receipts")))
        .load()
    )
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
    with pytest.raises(ValueError, match="shorter than magic"):
        confluent_unframe(b"\x00\x00\x00")
    with pytest.raises(ValueError, match="shorter than magic"):
        _scan_frame_bodies(path)
    # records before the short frame still scan
    _buf, starts = _scan_frame_bodies(path, 0, 1)
    assert list(starts) == [4 + 5]


def test_datasource_read_fails_on_short_frame(spark, tmp_path):
    path = _framed_log_with_short_frame(tmp_path)
    spark.dataSource.register(ConfluentAvroDataSource)
    df = (
        spark.read.format("confluentavro")
        .schema(RECEIPTS_SCHEMA)
        .option("path", os.path.dirname(path))
        .option("avro_schema", json.dumps(avro_value_schema("receipts")))
        .load()
    )
    with pytest.raises(Exception, match="shorter than magic"):
        df.collect()
