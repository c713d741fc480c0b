"""S4 parity: streamed balance changelog through the foreachBatch
keyed-upsert sink equals the batch aggregate (the reference's
Postgres-connector UPSERT behavior, README.md:273-297)."""

from __future__ import annotations

import json
from pathlib import Path

from nearscan_kafka_streams_spark.sinks.upsert import (
    dedupe_latest,
    duckdb_merge_fn,
    foreach_batch_upsert,
    read_store,
)


def _final(spark, target):
    return {
        r["account"]: r["balance"] for r in read_store(spark, target).collect()
    }


def test_foreach_batch_upsert_keyed_state(spark, tmp_path):
    target = str(tmp_path / "balances")
    upsert = foreach_batch_upsert(
        "account", target, order_cols=["block_timestamp"]
    )

    # three micro-batches of balance updates (update-mode changelog):
    # later batches overwrite earlier per-key rows
    b0 = spark.createDataFrame(
        [("a", 10, 1), ("b", 5, 1)], ["account", "balance", "block_timestamp"]
    )
    b1 = spark.createDataFrame(
        [("a", 15, 2)], ["account", "balance", "block_timestamp"]
    )
    b2 = spark.createDataFrame(
        [("b", 9, 3), ("c", 1, 3)], ["account", "balance", "block_timestamp"]
    )
    for i, b in enumerate([b0, b1, b2]):
        upsert(b, i)

    assert _final(spark, target) == {"a": 15, "b": 9, "c": 1}


def test_upsert_within_batch_dedupe(spark, tmp_path):
    """Two updates for one key in a single batch: highest order wins."""
    target = str(tmp_path / "balances2")
    upsert = foreach_batch_upsert("account", target, order_cols=["ts"])
    batch = spark.createDataFrame(
        [("a", 1, 1), ("a", 7, 2), ("b", 3, 1)], ["account", "balance", "ts"]
    )
    upsert(batch, 0)
    assert _final(spark, target) == {"a": 7, "b": 3}


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """The 100x-scale property: a batch touching one key rewrites only
    the bucket holding it; every other bucket keeps its old generation
    directory untouched (per-batch cost is O(touched), not O(store))."""
    target = str(tmp_path / "balances3")
    upsert = foreach_batch_upsert("account", target, num_buckets=16)

    seed = spark.createDataFrame(
        [(f"acct-{i}", i, 0) for i in range(64)],
        ["account", "balance", "ts"],
    )
    upsert(seed, 0)
    m0 = json.loads((Path(target) / "_MANIFEST.json").read_text())
    assert m0["num_buckets"] == 16
    assert len(m0["buckets"]) > 1  # 64 keys spread over several buckets

    upsert(
        spark.createDataFrame([("acct-0", 999, 1)], ["account", "balance", "ts"]),
        1,
    )
    m1 = json.loads((Path(target) / "_MANIFEST.json").read_text())

    changed = [b for b in m0["buckets"] if m0["buckets"][b] != m1["buckets"][b]]
    assert len(changed) == 1  # exactly the bucket containing acct-0
    unchanged = [b for b in m0["buckets"] if b not in changed]
    assert unchanged and all(m1["buckets"][b] == m0["buckets"][b] for b in unchanged)
    # superseded generation of the touched bucket was garbage-collected,
    # generations still referenced survive
    live = set(m1["buckets"].values())
    on_disk = {p.name for p in Path(target).iterdir() if p.name.startswith("gen-")}
    assert on_disk == live

    final = _final(spark, target)
    assert final["acct-0"] == 999 and final["acct-1"] == 1 and len(final) == 64


def test_upsert_crash_between_write_and_swap_preserves_store(spark, tmp_path):
    """A generation dir written without a manifest swap (crash window)
    must not corrupt reads, and a retry of the batch must converge."""
    target = str(tmp_path / "balances4")
    upsert = foreach_batch_upsert("account", target)
    upsert(spark.createDataFrame([("a", 1, 0)], ["account", "balance", "ts"]), 0)

    # simulate a crash: orphan generation exists, manifest still old
    orphan = Path(target) / "gen-0000000001-deadbeef" / "_bucket=3"
    orphan.mkdir(parents=True)
    assert _final(spark, target) == {"a": 1}  # reads ignore the orphan

    upsert(spark.createDataFrame([("a", 2, 1)], ["account", "balance", "ts"]), 1)
    assert _final(spark, target) == {"a": 2}
    assert not orphan.parent.exists()  # GC swept the orphan


def test_foreach_batch_redelivery_converges(spark, tmp_path, monkeypatch):
    """At-least-once + idempotent-upsert contract (the reference
    delegates this to its Postgres UPSERT connector, README.md:289):
    Structured Streaming may re-deliver batch N after a failure at ANY
    point in foreachBatch -- before the manifest swap (sink-side crash)
    or after it (engine commit-log failure).  Both replays must
    converge to the same store."""
    import pytest

    import nearscan_kafka_streams_spark.sinks.upsert as U

    target = str(tmp_path / "balances_replay")
    upsert = U.foreach_batch_upsert("account", target, order_cols=["ts"])
    upsert(
        spark.createDataFrame(
            [("a", 10, 1), ("b", 5, 1)], ["account", "balance", "ts"]
        ),
        0,
    )

    b1 = spark.createDataFrame(
        [("a", 15, 2), ("c", 2, 2)], ["account", "balance", "ts"]
    )

    # crash INSIDE batch 1: generation fully written, swap never happens
    real_swap = U._swap_manifest

    def crashing_swap(path, manifest):
        raise RuntimeError("injected crash before manifest swap")

    monkeypatch.setattr(U, "_swap_manifest", crashing_swap)
    with pytest.raises(RuntimeError, match="injected crash"):
        upsert(b1, 1)
    monkeypatch.setattr(U, "_swap_manifest", real_swap)

    # the store still reads as the pre-crash consistent state
    assert _final(spark, target) == {"a": 10, "b": 5}

    # the engine re-delivers batch 1 (same batch_id, same rows)
    upsert(b1, 1)
    assert _final(spark, target) == {"a": 15, "b": 5, "c": 2}
    # the crashed attempt's orphan generation was garbage-collected
    m = json.loads((Path(target) / "_MANIFEST.json").read_text())
    live = set(m["buckets"].values())
    on_disk = {
        p.name for p in Path(target).iterdir() if p.name.startswith("gen-")
    }
    assert on_disk == live

    # re-delivery AFTER a successful swap (commit-log failure): replaying
    # the identical batch is a no-op on values
    upsert(b1, 1)
    assert _final(spark, target) == {"a": 15, "b": 5, "c": 2}


def test_duckdb_merge_fn_upsert(spark, tmp_path):
    """JDBC-style UPSERT contract (reference README.md:289-292) against
    an in-container DuckDB stand-in: pk=account, last write wins."""
    import duckdb

    db = str(tmp_path / "store.duckdb")
    upsert = foreach_batch_upsert(
        "account",
        target_path="unused",
        order_cols=["ts"],
        merge_fn=duckdb_merge_fn(db, "balances", "account", order_cols=["ts"]),
    )
    b0 = spark.createDataFrame(
        [("a", 10, 1), ("b", 5, 1)], ["account", "balance", "ts"]
    )
    b1 = spark.createDataFrame(
        [("a", 15, 2), ("a", 12, 1), ("c", 1, 2)], ["account", "balance", "ts"]
    )
    upsert(b0, 0)
    upsert(b1, 1)
    con = duckdb.connect(db)
    rows = dict(
        con.execute("SELECT account, balance FROM balances").fetchall()
    )
    con.close()
    assert rows == {"a": 15, "b": 5, "c": 1}


def test_duckdb_merge_fn_oversized_batch_raises(spark, tmp_path):
    """The JDBC-mirror sink materializes each micro-batch on the
    driver; a batch past max_batch_rows must raise actionably instead
    of OOMing, and must leave the store untouched."""
    import duckdb

    db = str(tmp_path / "store.duckdb")
    merge = duckdb_merge_fn(db, "balances", "account", max_batch_rows=2)
    big = spark.createDataFrame(
        [("a", 1, 1), ("b", 2, 1), ("c", 3, 1)], ["account", "balance", "ts"]
    )
    try:
        merge(big, 0)
        raise AssertionError("expected ValueError")
    except ValueError as exc:
        assert "max_batch_rows" in str(exc)
        assert "foreach_batch_upsert" in str(exc)
    # nothing was written
    con = duckdb.connect(db)
    tables = [t[0] for t in con.execute("SHOW TABLES").fetchall()]
    con.close()
    assert "balances" not in tables


def test_dedupe_latest_deterministic(spark):
    df = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 1), ("a", 3, 2)], ["k", "v", "ord"]
    )
    out = dedupe_latest(df, "k", ["ord", "v"]).collect()
    assert len(out) == 1
    assert out[0]["v"] == 3


def test_upsert_randomized_batches_match_dict_semantics(spark, tmp_path):
    """Many seeded random micro-batches: the bucketed store must equal
    plain last-writer-wins dict semantics (order_cols tie-break)."""
    import random

    rng = random.Random(11)
    target = str(tmp_path / "balances_rand")
    upsert = foreach_batch_upsert(
        "account", target, order_cols=["ts"], num_buckets=8
    )
    expect: dict[str, tuple] = {}
    for batch_id in range(12):
        rows = [
            (f"k{rng.randrange(30)}", rng.randrange(1000), batch_id * 100 + i)
            for i in range(rng.randrange(1, 12))
        ]
        for acct, bal, ts in rows:
            # within-batch and cross-batch: highest ts wins per key
            if acct not in expect or ts >= expect[acct][1]:
                expect[acct] = (bal, ts)
        upsert(
            spark.createDataFrame(rows, ["account", "balance", "ts"]), batch_id
        )
    got = {
        r["account"]: (r["balance"], r["ts"])
        for r in read_store(spark, target).collect()
    }
    assert got == expect


def test_compact_store_collapses_generations(spark, tmp_path):
    """Many-batch store -> one generation; same content; superseded
    generation dirs GC'd; re-bucketing preserved across compaction."""
    from pathlib import Path as P

    from nearscan_kafka_streams_spark.sinks.upsert import compact_store

    target = str(tmp_path / "cstore")
    upsert = foreach_batch_upsert("account", target, num_buckets=16)
    # DISJOINT keys per batch: each generation keeps live buckets, so
    # generations accumulate (touching the same keys would let GC
    # collapse them immediately)
    for i in range(6):
        b = spark.createDataFrame(
            [(f"k{i}", i * 10)], ["account", "balance"]
        )
        upsert(b, i)
    before = _final(spark, target)
    gens_before = {
        d.name for d in P(target).iterdir()
        if d.is_dir() and d.name.startswith("gen-")
    }
    assert len(gens_before) > 1  # multiple live generations pre-compact

    compact_store(spark, target)
    assert _final(spark, target) == before
    gens_after = {
        d.name for d in P(target).iterdir()
        if d.is_dir() and d.name.startswith("gen-")
    }
    assert len(gens_after) == 1 and next(iter(gens_after)).startswith(
        "gen-compact-"
    )

    # grow the bucket count; content still identical and writable after
    compact_store(spark, target, num_buckets=32)
    assert _final(spark, target) == before
    upsert2 = foreach_batch_upsert("account", target)
    upsert2(
        spark.createDataFrame([("k0", 999)], ["account", "balance"]), 99
    )
    after = _final(spark, target)
    assert after["k0"] == 999 and {k: v for k, v in after.items() if k != "k0"} == {
        k: v for k, v in before.items() if k != "k0"
    }


def _mkbatch(spark, rows):
    return spark.createDataFrame(rows, "account string, balance long, ts long")


def test_versioned_store_time_travel(spark, tmp_path):
    from nearscan_kafka_streams_spark.sinks.upsert import (
        list_store_versions,
        read_store_as_of,
    )

    target = str(tmp_path / "versioned")
    upsert = foreach_batch_upsert(
        "account", target, order_cols=["ts"], num_buckets=8, retain_versions=2
    )
    upsert(_mkbatch(spark, [("a", 1, 1), ("b", 10, 1)]), 0)
    upsert(_mkbatch(spark, [("a", 2, 2)]), 1)
    upsert(_mkbatch(spark, [("c", 30, 3)]), 2)

    # retention=2 -> versions 1 and 2 readable, version 0 pruned
    assert list_store_versions(target) == [1, 2]
    v1 = {
        r["account"]: r["balance"]
        for r in read_store_as_of(spark, target, 1).collect()
    }
    assert v1 == {"a": 2, "b": 10}
    v2 = {
        r["account"]: r["balance"]
        for r in read_store_as_of(spark, target, 2).collect()
    }
    assert v2 == {"a": 2, "b": 10, "c": 30}
    # as-of latest == current view
    assert v2 == _final(spark, target)

    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="no version 0"):
        read_store_as_of(spark, target, 0)


def test_versioned_gc_keeps_retained_generations_only(spark, tmp_path):
    from nearscan_kafka_streams_spark.sinks.upsert import list_store_versions

    target = str(tmp_path / "gcstore")
    upsert = foreach_batch_upsert(
        "account", target, num_buckets=4, retain_versions=1
    )
    # every batch touches the SAME key -> same bucket superseded each
    # time; retention=1 keeps exactly the previous generation alive
    for i in range(4):
        upsert(_mkbatch(spark, [("a", i, i)]), i)
    gens = {p.name for p in Path(target).iterdir() if p.name.startswith("gen-")}
    # live: current (batch 3) + retained version 3's gens (same) --
    # version files for 0..2 pruned, their exclusive gens collected
    assert list_store_versions(target) == [3]
    assert len(gens) == 1, gens


def test_compact_preserves_as_of_reads(spark, tmp_path):
    from nearscan_kafka_streams_spark.sinks.upsert import (
        compact_store,
        list_store_versions,
        read_store_as_of,
    )

    target = str(tmp_path / "compactv")
    upsert = foreach_batch_upsert(
        "account", target, order_cols=["ts"], num_buckets=8, retain_versions=3
    )
    upsert(_mkbatch(spark, [("a", 1, 1), ("b", 10, 1)]), 0)
    upsert(_mkbatch(spark, [("b", 20, 2)]), 1)

    compact_store(spark, target)
    # compaction committed as version 2; both prior views still read
    assert list_store_versions(target) == [0, 1, 2]
    v0 = {
        r["account"]: r["balance"]
        for r in read_store_as_of(spark, target, 0).collect()
    }
    assert v0 == {"a": 1, "b": 10}
    v1 = {
        r["account"]: r["balance"]
        for r in read_store_as_of(spark, target, 1).collect()
    }
    assert v1 == {"a": 1, "b": 20}
    assert _final(spark, target) == {"a": 1, "b": 20}


def test_unversioned_store_behavior_unchanged(spark, tmp_path):
    from nearscan_kafka_streams_spark.sinks.upsert import list_store_versions

    target = str(tmp_path / "plain")
    upsert = foreach_batch_upsert("account", target, num_buckets=4)
    upsert(_mkbatch(spark, [("a", 1, 1)]), 0)
    upsert(_mkbatch(spark, [("a", 2, 2)]), 1)
    assert list_store_versions(target) == []
    assert not (Path(target) / "_versions").exists()
    assert _final(spark, target) == {"a": 2}


def test_compacting_unversioned_store_archives_no_version(spark, tmp_path):
    """Compaction of a store that keeps no versions must not start a
    version log: the next commit's GC would drop the compacted
    generation that an archived version still names."""
    from nearscan_kafka_streams_spark.sinks.upsert import (
        compact_store,
        list_store_versions,
        read_store_as_of,
    )

    target = str(tmp_path / "plain_compacted")
    upsert = foreach_batch_upsert("account", target)
    upsert(_mkbatch(spark, [("a", 1, 1), ("b", 10, 1)]), 0)
    compact_store(spark, target)
    upsert(_mkbatch(spark, [("a", 2, 2)]), 1)
    for v in list_store_versions(target):
        read_store_as_of(spark, target, v).collect()
    assert not (Path(target) / "_versions").exists()
    assert _final(spark, target) == {"a": 2, "b": 10}


def test_store_changelog_between_versions(spark, tmp_path):
    from nearscan_kafka_streams_spark.sinks.upsert import store_changelog

    target = str(tmp_path / "cdc")
    upsert = foreach_batch_upsert(
        "account", target, order_cols=["ts"], num_buckets=8, retain_versions=3
    )
    upsert(_mkbatch(spark, [("a", 1, 1), ("b", 10, 1)]), 0)
    upsert(_mkbatch(spark, [("a", 2, 2), ("c", 5, 2)]), 1)

    # forward diff 0 -> 1: a updated, c inserted, b unchanged (absent)
    rows = {
        r["account"]: r
        for r in store_changelog(spark, target, 0, 1).collect()
    }
    assert set(rows) == {"a", "c"}
    assert rows["a"]["change"] == "update"
    assert rows["a"]["before"]["balance"] == 1
    assert rows["a"]["after"]["balance"] == 2
    assert rows["c"]["change"] == "insert"
    assert rows["c"]["before"] is None
    assert rows["c"]["after"]["balance"] == 5

    # reverse diff 1 -> 0 exercises the delete leg symmetrically
    back = {
        r["account"]: r["change"]
        for r in store_changelog(spark, target, 1, 0).collect()
    }
    assert back == {"a": "update", "c": "delete"}


def test_store_changelog_unchanged_reupsert_drops_out(spark, tmp_path):
    from nearscan_kafka_streams_spark.sinks.upsert import store_changelog

    target = str(tmp_path / "cdcsame")
    upsert = foreach_batch_upsert(
        "account", target, num_buckets=4, retain_versions=3
    )
    upsert(_mkbatch(spark, [("a", 1, 1)]), 0)
    # re-emit the identical row (cumulative aggregates do this for
    # untouched keys): the null-safe struct compare must drop it
    upsert(_mkbatch(spark, [("a", 1, 1)]), 1)
    assert store_changelog(spark, target, 0, 1).count() == 0
