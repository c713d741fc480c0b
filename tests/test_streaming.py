"""Streaming-shell tests: multi-micro-batch replay over file streams
(SURVEY (S)5 plan 2).  Verifies the streaming topology (watermarked
dedup -> chained stream-stream interval joins -> extraction) produces
the same transfers and final balances as the batch pipeline.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter

import pytest

from nearscan_kafka_streams_spark.pipeline import run_batch
from nearscan_kafka_streams_spark.streaming.pipeline import run_fixture_pipeline
from tests.fixtures_near import build_fixture


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    """Write each input as MULTIPLE json files (out-of-order batches,
    duplicates in later files) to force multi-micro-batch replay."""
    root = tmp_path_factory.mktemp("stream_fixture")
    receipts, outcomes, actions, expected = build_fixture()

    def dump(rows, sub, n_files=3):
        d = root / sub
        d.mkdir()
        # reverse order: later blocks arrive first -> exercises
        # out-of-order handling (FIXTURES.md adversarial case 6)
        rows = list(reversed(rows))
        chunk = max(1, len(rows) // n_files)
        for i in range(0, len(rows), chunk):
            with open(d / f"part-{i:04d}.json", "w") as f:
                for row in rows[i : i + chunk]:
                    f.write(json.dumps({k: str(v) if k.endswith("timestamp") or k in
                                        ("included_in_block_timestamp",
                                         "executed_in_block_timestamp",
                                         "receipt_included_in_block_timestamp",
                                         "gas_burnt", "tokens_burnt", "shard_id")
                                        else v
                                        for k, v in row.items()}) + "\n")
        return d

    dump(receipts, "receipts")
    dump(outcomes, "outcomes")
    dump(actions, "actions")
    return root, expected


def test_streaming_matches_batch(spark, fixture_dir, tmp_path):
    root, expected = fixture_dir
    out_dir = str(tmp_path / "out")
    shutil.rmtree(out_dir, ignore_errors=True)

    balances = run_fixture_pipeline(spark, str(root), out_dir)
    got = {r["account"]: r["balance"] for r in balances.collect()}
    assert got == expected["balances"]

    transfers = spark.read.parquet(f"{out_dir}/token_transfer")
    assert transfers.count() == expected["transfer_rows"]


def test_streaming_equals_batch_pipeline(spark, fixture_dir, tmp_path):
    """Field-level equality of streaming vs batch final balances."""
    from tests.fixtures_near import to_dataframes

    root, _ = fixture_dir
    out_dir = str(tmp_path / "out2")
    streaming_balances = run_fixture_pipeline(spark, str(root), out_dir)

    from nearscan_kafka_streams_spark.config import PipelineConfig

    r, o, a, _ = to_dataframes(spark)
    # streaming keeps the tight 2s window (join-state pruning); compare
    # against the batch run configured identically
    batch_balances = run_batch(
        r, o, a, config=PipelineConfig(batch_join_tolerance="2 seconds")
    ).balances

    s_rows = {tuple(r) for r in streaming_balances.collect()}
    b_rows = {tuple(r) for r in batch_balances.collect()}
    assert s_rows == b_rows


def test_streaming_store_history_auditable(spark, fixture_dir, tmp_path):
    """retain_versions through the streaming shell: after the replay,
    the balance store's micro-batch history is readable as-of each
    retained commit and the cross-version changelog reconciles with
    the final state (the reference's compacted-topic audit)."""
    from nearscan_kafka_streams_spark.sinks.upsert import (
        list_store_versions,
        read_store_as_of,
        store_changelog,
    )

    root, expected = fixture_dir
    out_dir = str(tmp_path / "outv")
    final = run_fixture_pipeline(
        spark, str(root), out_dir, retain_versions=10
    )
    store = f"{out_dir}/token_balance_store"
    versions = list_store_versions(store)
    assert versions, "maxFilesPerTrigger=1 must commit retained versions"

    last = {
        r["account"]: r["balance"]
        for r in read_store_as_of(spark, store, versions[-1]).collect()
    }
    assert last == expected["balances"]
    assert last == {r["account"]: r["balance"] for r in final.collect()}

    if len(versions) > 1:
        # replaying the cross-run changelog over the first retained
        # snapshot must land exactly on the final state
        base = {
            r["account"]: r["balance"]
            for r in read_store_as_of(spark, store, versions[0]).collect()
        }
        for row in store_changelog(
            spark, store, versions[0], versions[-1]
        ).collect():
            if row["change"] == "delete":
                base.pop(row["account"])
            else:
                base[row["account"]] = row["after"]["balance"]
        assert base == expected["balances"]


def _transfer_rows(spark, out_dir) -> Counter:
    """The run's transfer rows as a multiset (batch partition dropped)."""
    rows = spark.read.parquet(f"{out_dir}/token_transfer").drop("batch")
    return Counter(tuple(r) for r in rows.collect())


def _batch_balances(spark) -> set:
    from nearscan_kafka_streams_spark.config import PipelineConfig
    from tests.fixtures_near import to_dataframes

    r, o, a, _ = to_dataframes(spark)
    out = run_batch(r, o, a, config=PipelineConfig(batch_join_tolerance="2 seconds"))
    return {tuple(row) for row in out.balances.collect()}


def test_streaming_restart_equals_batch(spark, fixture_dir, tmp_path, monkeypatch):
    """A stop at either side of the balance fold, then a re-run on the
    same out_dir, lands on run_batch's balances and on an uninterrupted
    run's transfers: the transfer write is idempotent per batch id, and
    the store's replay guard skips a batch it already folded."""
    from nearscan_kafka_streams_spark.streaming import pipeline

    root, _ = fixture_dir
    want_balances = _batch_balances(spark)

    # uninterrupted run: the reference transfer multiset
    out = str(tmp_path / "restart_after_fold")
    run_fixture_pipeline(spark, str(root), out)
    want_transfers = _transfer_rows(spark, out)
    assert sum(want_transfers.values()) > 0

    # (1) stop after the fold, before the checkpoint commit: leave the
    # checkpoint as such a stop would -- the store's last folded batch
    # planned but not committed, nothing after it planned
    store = f"{out}/token_balance_store"
    with open(f"{store}/_MANIFEST.json") as fh:
        folded = json.load(fh)["last_batch_id"]
    for log, first in (("commits", folded), ("offsets", folded + 1)):
        log_dir = f"{out}/ckpt/{log}"
        for name in os.listdir(log_dir):
            n = name.removeprefix(".").removesuffix(".crc")
            if n.isdigit() and int(n) >= first:
                os.remove(f"{log_dir}/{name}")
    balances = run_fixture_pipeline(spark, str(root), out)
    assert {tuple(r) for r in balances.collect()} == want_balances
    assert _transfer_rows(spark, out) == want_transfers

    # (2) stop after the transfer write, before the fold: the first
    # fold of a non-empty partial into an existing store raises once
    out = str(tmp_path / "restart_before_fold")
    real = pipeline.foreach_batch_additive
    stopped: list[int] = []

    def stop_once(*args, **kwargs):
        fold = real(*args, **kwargs)

        def fold_or_stop(partial, batch_id):
            store_exists = os.path.exists(
                f"{out}/token_balance_store/_MANIFEST.json"
            )
            if not stopped and store_exists and partial.count() > 0:
                stopped.append(batch_id)
                raise RuntimeError("stop before the fold")
            fold(partial, batch_id)

        return fold_or_stop

    monkeypatch.setattr(pipeline, "foreach_batch_additive", stop_once)
    with pytest.raises(Exception, match="stop before the fold"):
        run_fixture_pipeline(spark, str(root), out)
    assert os.listdir(f"{out}/token_transfer/batch={stopped[0]}")
    balances = run_fixture_pipeline(spark, str(root), out)
    assert {tuple(r) for r in balances.collect()} == want_balances
    assert _transfer_rows(spark, out) == want_transfers


def test_streaming_empty_input_returns_empty_balances(spark, tmp_path):
    """A run that fires no batch returns 0 rows with the balance
    columns."""
    from nearscan_kafka_streams_spark.operators.balance import token_balances
    from nearscan_kafka_streams_spark.schemas import TOKEN_TRANSFER_SCHEMA

    root = tmp_path / "empty"
    for sub in ("receipts", "outcomes", "actions"):
        (root / sub).mkdir(parents=True)
    balances = run_fixture_pipeline(spark, str(root), str(tmp_path / "out"))
    assert balances.count() == 0
    want = token_balances(spark.createDataFrame([], TOKEN_TRANSFER_SCHEMA))
    assert balances.schema == want.schema


def test_streaming_store_without_checkpoint_fails_loudly(spark, fixture_dir, tmp_path):
    """A store that already folded batches next to a checkpoint that
    never planned them (a reset of the checkpoint alone) would restart
    batch ids at 0 and the replay guard would skip every batch: the run
    must refuse and name the reset entry point instead."""
    from nearscan_kafka_streams_spark.operators.balance import (
        merge_balances,
        token_balances,
    )
    from nearscan_kafka_streams_spark.schemas import TOKEN_TRANSFER_SCHEMA
    from nearscan_kafka_streams_spark.sinks.upsert import foreach_batch_additive
    from tests.test_balance_properties import _transfer_row

    root, _ = fixture_dir
    out = tmp_path / "out"
    leg = {"account": "a.near", "amount": 1, "ts": 0, "idx": 0}
    partial = token_balances(
        spark.createDataFrame([_transfer_row(0, leg)], TOKEN_TRANSFER_SCHEMA)
    )
    foreach_batch_additive(
        "account", str(out / "token_balance_store"), merge_balances
    )(partial, 0)
    with pytest.raises(RuntimeError, match="reset_pipeline"):
        run_fixture_pipeline(spark, str(root), str(out))
    assert not (out / "ckpt").exists()


def _pinned_conf(out_dir: str) -> dict:
    """The session conf the checkpoint's newest offset-log entry pins."""
    offsets = f"{out_dir}/ckpt/offsets"
    last = max(int(n) for n in os.listdir(offsets) if n.isdigit())
    with open(f"{offsets}/{last}") as fh:
        return json.loads(fh.read().splitlines()[1])["conf"]


def _copy_topics(src, dst, pick) -> None:
    """Copy the files ``pick(sorted names)`` of each topic dir."""
    for sub in ("receipts", "outcomes", "actions"):
        os.makedirs(dst / sub, exist_ok=True)
        for name in pick(sorted(os.listdir(src / sub))):
            shutil.copy(src / sub / name, dst / sub / name)


def test_checkpoint_keeps_pinned_layout(spark, fixture_dir, tmp_path, monkeypatch):
    """A checkpoint and store laid out as before the topology moved to
    the HDFS-backed provider and 4-bucket stores (RocksDB, 4 shuffle
    partitions, a 64-bucket store) resume under the current code on the
    layout they pinned, and land on run_batch's balances; a new
    checkpoint pins the HDFS-backed provider."""
    from nearscan_kafka_streams_spark.streaming import pipeline

    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    root, _ = fixture_dir
    inputs, out = tmp_path / "in", str(tmp_path / "old")
    _copy_topics(root, inputs, lambda names: names[:1])

    real = pipeline.foreach_batch_additive
    monkeypatch.setattr(pipeline, "_STATE_PROVIDER", rocksdb)
    monkeypatch.setattr(
        pipeline, "foreach_batch_additive",
        lambda *a, **kw: real(*a, **kw, num_buckets=64),
    )
    run_fixture_pipeline(spark, str(inputs), out, shuffle_partitions=4)
    monkeypatch.undo()

    _copy_topics(root, inputs, lambda names: names[1:])
    balances = run_fixture_pipeline(spark, str(inputs), out)
    pinned = _pinned_conf(out)
    assert pinned["spark.sql.streaming.stateStore.providerClass"] == rocksdb
    assert pinned["spark.sql.shuffle.partitions"] == "4"
    with open(f"{out}/token_balance_store/_MANIFEST.json") as fh:
        assert json.load(fh)["num_buckets"] == 64
    assert {tuple(r) for r in balances.collect()} == _batch_balances(spark)

    fresh = str(tmp_path / "new")
    run_fixture_pipeline(spark, str(inputs), fresh)
    assert (
        _pinned_conf(fresh)["spark.sql.streaming.stateStore.providerClass"]
        == pipeline._STATE_PROVIDER
    )
    assert pipeline._STATE_PROVIDER.endswith("HDFSBackedStateStoreProvider")


def test_balance_store_grows_mid_run(spark, fixture_dir, tmp_path):
    """With a scan split smaller than one bucket file, each fold that
    leaves the median bucket file above it doubles the store's bucket
    count; the store still equals run_batch."""
    root, _ = fixture_dir
    out = str(tmp_path / "out")
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        balances = run_fixture_pipeline(spark, str(root), out)
        rows = {tuple(r) for r in balances.collect()}
    finally:
        spark.conf.set(key, prev)
    with open(f"{out}/token_balance_store/_MANIFEST.json") as fh:
        manifest = json.load(fh)
    assert manifest["num_buckets"] > 4
    assert manifest["num_buckets"] & (manifest["num_buckets"] - 1) == 0
    assert rows == _batch_balances(spark)
