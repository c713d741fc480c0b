"""Streaming shell over the shared operator functions.

Topology parity (TokenBalance.buildKafkaStreams, TokenBalance.java:74-336),
one streaming query with one checkpoint:

  stream x3 --dedup--> join --join--> filter+flatMap --> foreachBatch:
    1. overwrite ``token_transfer/batch=<id>`` with the batch's transfers
    2. fold that batch's ``token_balances`` partial into the keyed store

The reference writes the ``token_transfer`` topic (S3 at :274-276) and
re-consumes it for the balance aggregate (:279-280); here the same
batch function that writes the topic's rows folds the balances.  The
balance needs no streaming state: it is a sum plus a composite
``max_by`` (``operators.balance.merge_balances``), so per-batch partials
merge into the store.  Both writes are idempotent per batch id -- the
transfer partition is overwritten, and the store's replay guard skips a
batch it already folded -- so a restart at any point replays to the
same store (Structured Streaming's replayable-source + idempotent-sink
contract).

State bounds at scale: dedup state expires at the watermark (30 min,
mirroring the reference's windowed store), join buffers at watermark +
join tolerance, which is why the query keeps them in Spark's
HDFS-backed state store (``_run_query``); the balance store holds one
row per account (unbounded by design -- the KTable equivalent) outside
the query's state.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from nearscan_kafka_streams_spark.config import DEFAULT_CONFIG, PipelineConfig
from nearscan_kafka_streams_spark.operators.balance import (
    merge_balances,
    token_balances,
)
from nearscan_kafka_streams_spark.operators.dedup import dedup_stream
from nearscan_kafka_streams_spark.operators.joins import (
    join_receipts_outcomes_actions_stream,
)
from nearscan_kafka_streams_spark.operators.transfers import extract_transfers
from nearscan_kafka_streams_spark.schemas import (
    ACTION_RECEIPT_ACTIONS_SCHEMA,
    EXECUTION_OUTCOMES_SCHEMA,
    RECEIPTS_SCHEMA,
    TOKEN_TRANSFER_SCHEMA,
    TOPIC_SCHEMAS,
)
from nearscan_kafka_streams_spark.sinks.upsert import (
    _load_manifest,
    foreach_batch_additive,
    read_store,
)
from nearscan_kafka_streams_spark.sources.files import read_fixture_stream

_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)


def build_streaming_transfers(
    receipts: DataFrame,
    outcomes: DataFrame,
    actions: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Streaming half 1: dedup -> interval joins -> transfer extraction.

    Inputs are streaming DataFrames carrying their topic schema columns
    plus ``event_time``.  Output is an append-mode transfer stream.
    """
    # one watermark per stream, named as the join expects (r_et/o_et/
    # a_et) -- defined here, reused by dedup AND join (Spark disallows
    # redefining a watermark downstream)
    r = dedup_stream(
        receipts.withColumnRenamed("event_time", "r_et"),
        ["receipt_id"],
        event_time_col="r_et",
        watermark=config.dedup_watermark,
    )
    o = dedup_stream(
        outcomes.withColumnRenamed("event_time", "o_et"),
        ["receipt_id"],
        event_time_col="o_et",
        watermark=config.dedup_watermark,
    )
    a = dedup_stream(
        actions.withColumnRenamed("event_time", "a_et"),
        ["receipt_id", "index_in_action_receipt"],
        event_time_col="a_et",
        watermark=config.dedup_watermark,
    )
    joined = join_receipts_outcomes_actions_stream(
        r, o, a, tolerance=config.join_tolerance, watermark=config.join_watermark
    )
    return extract_transfers(joined, config.token_address)


def run_fixture_pipeline(
    spark: SparkSession,
    fixture_dir: str,
    out_dir: str,
    config: PipelineConfig = DEFAULT_CONFIG,
    retain_versions: int = 0,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """End-to-end streaming run over JSON fixture directories
    (``{fixture_dir}/receipts`` etc.), multi-micro-batch via
    maxFilesPerTrigger=1 + availableNow -- exercises real streaming
    state.  Returns the final balances read from the keyed upsert
    store -- bit-identical to ``pipeline.run_batch`` (tight join window)
    on the same inputs.

    ``retain_versions`` > 0 keeps per-micro-batch store history so
    ``read_store_as_of`` / ``store_changelog`` can audit the balance
    changelog after the run (the reference's compacted-topic replay).
    """
    r = read_fixture_stream(
        spark, f"{fixture_dir}/receipts", RECEIPTS_SCHEMA,
        TOPIC_SCHEMAS["receipts"][1],
    )
    o = read_fixture_stream(
        spark, f"{fixture_dir}/outcomes", EXECUTION_OUTCOMES_SCHEMA,
        TOPIC_SCHEMAS["execution_outcomes"][1],
    )
    a = read_fixture_stream(
        spark, f"{fixture_dir}/actions", ACTION_RECEIPT_ACTIONS_SCHEMA,
        TOPIC_SCHEMAS["action_receipt_actions"][1],
    )
    transfers = build_streaming_transfers(r, o, a, config)
    return _run_query(spark, transfers, out_dir, retain_versions, shuffle_partitions)


@contextmanager
def _conf_override(spark: SparkSession, conf: dict[str, str | None]):
    """Set the session conf keys whose value is not None for the block
    and restore them after."""
    prev = {k: spark.conf.get(k, None) for k, v in conf.items() if v is not None}
    for k in prev:
        spark.conf.set(k, conf[k])
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_wire_pipeline(
    spark: SparkSession,
    log_dir: str,
    out_dir: str,
    config: PipelineConfig = DEFAULT_CONFIG,
    retain_versions: int = 0,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """The SAME topology fed from Confluent-framed Avro record logs
    (``sources/pyds.py::read_segments``: Spark's file stream source,
    decoded in executor Python workers) -- wire bytes in, balance store
    out.  This is the closest in-sandbox equivalent of the reference's
    Kafka consumption path: the value bytes are the exact Confluent
    frames a Connect producer emits, flowing into the identical dedup
    -> interval-join -> flat-map -> aggregate topology
    (TokenBalance.java:74-336).

    Expects ``{log_dir}/receipts``, ``{log_dir}/execution_outcomes``,
    ``{log_dir}/action_receipt_actions`` directories of length-prefixed
    framed-record files."""
    from nearscan_kafka_streams_spark.schemas import avro_value_schema
    from nearscan_kafka_streams_spark.sources.pyds import read_segments

    def rd(topic: str, schema) -> DataFrame:
        return read_segments(
            spark.readStream, f"{log_dir}/{topic}", schema,
            avro_value_schema(topic),
        )

    return _run_topic_pipeline(
        spark, rd, out_dir, config, retain_versions, shuffle_partitions
    )


def run_parquet_pipeline(
    spark: SparkSession,
    parquet_dir: str,
    out_dir: str,
    config: PipelineConfig = DEFAULT_CONFIG,
    retain_versions: int = 0,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """The SAME topology as ``run_wire_pipeline`` fed from
    parquet-staged (already-decoded) topic frames -- the all-JVM
    variant: file-stream sources, zero Python in the data path.  Bench
    runs it next to the wire variant so the headline separates "Avro
    decode in Python workers" from "topology cost" (a Kafka
    deployment keeps the decode: its reader runs the same one,
    MIGRATION.md).

    Expects ``{parquet_dir}/receipts`` etc. written as parquet with the
    topic StructTypes."""

    def rd(topic: str, schema) -> DataFrame:
        return spark.readStream.schema(schema).parquet(f"{parquet_dir}/{topic}")

    return _run_topic_pipeline(
        spark, rd, out_dir, config, retain_versions, shuffle_partitions
    )


def _run_topic_pipeline(
    spark: SparkSession,
    rd: Callable[[str, object], DataFrame],
    out_dir: str,
    config: PipelineConfig,
    retain_versions: int,
    shuffle_partitions: int | None,
) -> DataFrame:
    """Shared body of the wire and parquet entry points: ``rd(topic,
    schema)`` opens one topic stream."""
    from nearscan_kafka_streams_spark.schemas import with_event_time

    def topic(name: str, schema) -> DataFrame:
        return with_event_time(rd(name, schema), TOPIC_SCHEMAS[name][1])

    transfers = build_streaming_transfers(
        topic("receipts", RECEIPTS_SCHEMA),
        topic("execution_outcomes", EXECUTION_OUTCOMES_SCHEMA),
        topic("action_receipt_actions", ACTION_RECEIPT_ACTIONS_SCHEMA),
        config,
    )
    return _run_query(spark, transfers, out_dir, retain_versions, shuffle_partitions)


def _last_planned_batch(checkpoint: str) -> int:
    """Highest batch id in the checkpoint's offset log, -1 if none."""
    offsets = Path(checkpoint) / "offsets"
    if not offsets.is_dir():
        return -1
    return max(
        (int(p.name) for p in offsets.iterdir() if p.name.isdigit()),
        default=-1,
    )


def _check_file_source_offsets(checkpoint: str) -> None:
    """Every topology entry point reads file sources, whose offset is
    ``{"logOffset": n}``.  A checkpoint holding any other source's
    offsets (per-file record counts, say) cannot resume, and the file
    source would fail on it without naming the fix."""
    last = _last_planned_batch(checkpoint)
    if last < 0:
        return
    # offset log entry: version line, metadata line, one line per source
    entry = (Path(checkpoint) / "offsets" / str(last)).read_text()
    for line in entry.splitlines()[2:]:
        if line != "-" and "logOffset" not in json.loads(line):
            raise RuntimeError(
                f"checkpoint {checkpoint} holds offsets {line} that no "
                "file source wrote; reset the checkpoint, the store and "
                "token_transfer together with "
                "streaming/reset.py::reset_pipeline"
            )


def _run_query(
    spark: SparkSession,
    transfers: DataFrame,
    out_dir: str,
    retain_versions: int,
    shuffle_partitions: int | None,
) -> DataFrame:
    """Run the one query: per micro-batch, write the transfers and fold
    their balances into ``{out_dir}/token_balance_store``; return the
    store's balances.

    The query's state (3 dedups and 2 interval joins) is bounded by the
    dedup watermark and the join watermark plus tolerance, so it runs
    on Spark's HDFS-backed state store: the state sits in executor
    memory, and each commit writes one delta file per store instance.
    The session default (RocksDB) costs several files, a local
    checkpoint directory and their removal per instance per batch; on
    Hadoop's local filesystem each created file and directory also
    forks a ``chmod``, which made the commits most of a warm step.
    ``shuffle_partitions`` (default: the session's, the core count)
    sets the store instances per stateful operator.  Both settings are
    read when a checkpoint is created and pinned in it: a checkpoint
    resumes on the provider and partition count it was created with.

    Without version retention the run is a throughput replay, so
    no-data micro-batches are off for its duration: after the last data
    batch the advanced watermark otherwise schedules one more batch
    purely to EVICT join/dedup state (a state-store load+commit per
    store instance), which emits nothing for these inner interval
    joins."""
    checkpoint = f"{out_dir}/ckpt"
    transfer_path = f"{out_dir}/token_transfer"
    store = f"{out_dir}/token_balance_store"

    _check_file_source_offsets(checkpoint)
    # the store's replay guard trusts batch ids: a checkpoint that never
    # planned the batch the store last folded (reset, or a different
    # checkpoint) would restart ids below it and every fold would be
    # skipped as a replay
    manifest = _load_manifest(store)
    if manifest is not None:
        folded = manifest.get("last_batch_id", -1)
        if _last_planned_batch(checkpoint) < folded:
            raise RuntimeError(
                f"balance store {store} already folded batch {folded}, but "
                f"checkpoint {checkpoint} has not planned it; reset the "
                "checkpoint, the store and token_transfer together with "
                "streaming/reset.py::reset_pipeline"
            )

    fold = foreach_batch_additive(
        "account", store, merge_balances, retain_versions=retain_versions
    )

    def write_and_fold(batch: DataFrame, batch_id: int) -> None:
        # one action on the batch (re-running it would re-execute the
        # dedup + join plan); the fold reads back the files just written
        part = f"{transfer_path}/batch={batch_id}"
        batch.write.mode("overwrite").parquet(part)
        reader = batch.sparkSession.read.schema(TOKEN_TRANSFER_SCHEMA)
        fold(token_balances(reader.parquet(part)), batch_id)

    conf = {
        "spark.sql.streaming.stateStore.providerClass": _STATE_PROVIDER,
        "spark.sql.shuffle.partitions": (
            None if shuffle_partitions is None else str(shuffle_partitions)
        ),
        "spark.sql.streaming.noDataMicroBatches.enabled": (
            None if retain_versions else "false"
        ),
    }
    with _conf_override(spark, conf):
        q = (
            transfers.writeStream.foreachBatch(write_and_fold)
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("streaming replay did not finish within 600s")
    try:
        return read_store(spark, store)
    except FileNotFoundError:
        # no batch folded a transfer: empty balances
        return token_balances(spark.createDataFrame([], TOKEN_TRANSFER_SCHEMA))
