"""Wire-bytes end-to-end: Confluent-framed Avro logs -> Spark's file
stream source + Arrow decode (``sources/pyds.py::read_segments``) ->
full reference topology -> balance store.

The deepest in-sandbox S1 closure: the value bytes are exactly what a
Connect producer frames onto the topic, and everything downstream is
the production topology -- only the socket to a broker is simulated by
the segment files.  A resume reads only the segments added since the
last run: the file source's checkpointed file log is the offset."""

from __future__ import annotations

import os
import time

import pytest

from nearscan_kafka_streams_spark.config import PipelineConfig
from nearscan_kafka_streams_spark.pipeline import run_batch
from nearscan_kafka_streams_spark.schemas import avro_value_schema
from nearscan_kafka_streams_spark.serde.avro import (
    AvroCodec,
    confluent_frame,
)
from nearscan_kafka_streams_spark.sources.pyds import write_framed_log
from nearscan_kafka_streams_spark.streaming.pipeline import run_wire_pipeline


TOPICS = ("receipts", "execution_outcomes", "action_receipt_actions")


def _stage_topic(df, topic: str, out_dir, n_files: int = 2) -> None:
    codec = AvroCodec(avro_value_schema(topic))
    framed = [
        confluent_frame(1, codec.encode(row.asDict())) for row in df.collect()
    ]
    for i in range(n_files):
        write_framed_log(
            framed[i::n_files],
            str(out_dir / topic / f"part-{i:05d}.bin"),
        )


def _batch_balances(r, o, a) -> dict:
    # the batch pipeline under the streaming topology's ±2 s join window
    out = run_batch(r, o, a, config=PipelineConfig(batch_join_tolerance="2 seconds"))
    return {row["account"]: str(row["balance"]) for row in out.balances.collect()}


def _resume_over_appended_segment(spark, tmp_path, age_s: float) -> None:
    """Run over the first receipts' records, append one segment per
    topic holding the rest with an mtime ``age_s`` older than now,
    resume on the same checkpoint and store: the store equals
    ``run_batch`` over all records, and ``token_transfer`` gains only
    the new batch."""
    from fixtures_near import to_dataframes

    r, o, a, _ = to_dataframes(spark)
    first = [f"r{i}" for i in range(1, 9)]
    logs, out = tmp_path / "logs", str(tmp_path / "out")
    for topic, df in zip(TOPICS, (r, o, a)):
        _stage_topic(df.where(df.receipt_id.isin(first)), topic, logs, 1)
    run_wire_pipeline(spark, str(logs), out)
    transfers = f"{out}/token_transfer"
    before = {d: sorted(os.listdir(f"{transfers}/{d}")) for d in os.listdir(transfers)}

    old = time.time() - age_s
    for topic, df in zip(TOPICS, (r, o, a)):
        _stage_topic(df.where(~df.receipt_id.isin(first)), topic, logs / "new", 1)
        seg = str(logs / topic / "part-00001.bin")
        os.rename(str(logs / "new" / topic / "part-00000.bin"), seg)
        os.utime(seg, (old, old))
    balances = run_wire_pipeline(spark, str(logs), out)

    got = {row["account"]: str(row["balance"]) for row in balances.collect()}
    assert got == _batch_balances(r, o, a) and len(got) > 0
    after = {d: sorted(os.listdir(f"{transfers}/{d}")) for d in os.listdir(transfers)}
    (new,) = set(after) - set(before)
    assert {d: after[d] for d in before} == before
    assert spark.read.parquet(f"{transfers}/{new}").count() > 0


def test_wire_pipeline_resumes_on_appended_segment(spark, tmp_path):
    _resume_over_appended_segment(spark, tmp_path, age_s=0)


def test_wire_pipeline_reads_segment_with_old_mtime(spark, tmp_path):
    # the file source's default maxFileAge (7 days before the newest
    # file) would skip a segment that kept an old mtime through a rename
    _resume_over_appended_segment(spark, tmp_path, age_s=10 * 86400)


def test_wire_pipeline_refuses_record_count_checkpoint(spark, tmp_path):
    """A checkpoint whose offsets are per-file record counts, not file
    source log offsets, fails before the query starts and names the
    reset entry point."""
    from fixtures_near import to_dataframes

    r, o, a, _ = to_dataframes(spark)
    logs, out = tmp_path / "logs", tmp_path / "out"
    for topic, df in zip(TOPICS, (r, o, a)):
        _stage_topic(df, topic, logs, 1)
    offsets = out / "ckpt" / "offsets"
    offsets.mkdir(parents=True)
    (offsets / "0").write_text(
        "v1\n"
        '{"batchWatermarkMs":0,"batchTimestampMs":0,"conf":{}}\n'
        + '{"consumed": {"part-00000.bin": 16}}\n' * 3
    )
    with pytest.raises(RuntimeError, match="reset_pipeline"):
        run_wire_pipeline(spark, str(logs), str(out))


def test_wire_topology_matches_batch(spark, tmp_path):
    from fixtures_near import to_dataframes

    r, o, a, _ = to_dataframes(spark)
    logs = tmp_path / "logs"
    for topic, df in zip(TOPICS, (r, o, a)):
        _stage_topic(df, topic, logs)

    balances = run_wire_pipeline(
        spark, str(logs), str(tmp_path / "out")
    )
    got = {
        row["account"]: str(row["balance"]) for row in balances.collect()
    }

    # batch reference under the same ±2 s join window the streaming
    # topology runs (batch default is unbounded tolerance; the fixture
    # set includes a delayed-execution pair that only joins unbounded)
    want = _batch_balances(r, o, a)
    assert got == want and len(got) > 0


def test_parquet_topology_matches_wire(spark, tmp_path):
    """run_parquet_pipeline (the all-JVM control / migration-target
    shape) must produce the identical balance store as the wire path on
    the same inputs."""
    from fixtures_near import to_dataframes

    from nearscan_kafka_streams_spark.streaming.pipeline import (
        run_parquet_pipeline,
    )

    r, o, a, _ = to_dataframes(spark)
    logs = tmp_path / "logs"
    for topic, df in zip(TOPICS, (r, o, a)):
        _stage_topic(df, topic, logs)
        df.write.mode("overwrite").parquet(str(tmp_path / "pq" / topic))

    wire = run_wire_pipeline(spark, str(logs), str(tmp_path / "out_wire"))
    jvm = run_parquet_pipeline(
        spark, str(tmp_path / "pq"), str(tmp_path / "out_pq")
    )
    got_wire = {
        row["account"]: str(row["balance"]) for row in wire.collect()
    }
    got_jvm = {row["account"]: str(row["balance"]) for row in jvm.collect()}
    assert got_wire == got_jvm and len(got_jvm) > 0
