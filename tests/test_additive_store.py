"""Additive incremental aggregate maintenance on the bucketed store."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from nearscan_kafka_streams_spark.sinks.upsert import (
    foreach_batch_additive,
    read_store,
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, ["user_id", "n", "amount"])


def _sums(df, keys):
    return df.groupBy(*keys).agg(
        F.sum("n").alias("n"), F.sum("amount").alias("amount")
    )


def test_additive_equals_full_recompute(spark, tmp_path):
    store = str(tmp_path / "agg")
    merge = foreach_batch_additive(
        "user_id", store, _sums, num_buckets=8
    )
    batches = [
        [(1, 1, 10), (2, 1, 5)],
        [(1, 2, 7), (3, 1, 1)],
        [(2, 1, 2), (3, 4, 4), (4, 1, 9)],
    ]
    for i, rows in enumerate(batches):
        merge(_batch(spark, rows), i)

    got = {
        r["user_id"]: (r["n"], r["amount"])
        for r in read_store(spark, store).collect()
    }
    flat = [row for rows in batches for row in rows]
    want = {}
    for uid, n, amount in flat:
        cur = want.get(uid, (0, 0))
        want[uid] = (cur[0] + n, cur[1] + amount)
    assert got == want


def test_replay_of_committed_batch_is_skipped(spark, tmp_path):
    """foreachBatch may re-deliver a batch after a sink-side success;
    addition is not idempotent, so the manifest version gates it."""
    store = str(tmp_path / "agg2")
    merge = foreach_batch_additive("user_id", store, _sums)
    merge(_batch(spark, [(1, 1, 10)]), 0)
    merge(_batch(spark, [(1, 5, 50)]), 1)
    before = read_store(spark, store).collect()
    merge(_batch(spark, [(1, 5, 50)]), 1)  # duplicate delivery
    merge(_batch(spark, [(1, 99, 99)]), 0)  # stale replay
    after = read_store(spark, store).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    assert after[0]["n"] == 6 and after[0]["amount"] == 60


def test_only_touched_buckets_rewritten(spark, tmp_path):
    store = str(tmp_path / "agg3")
    merge = foreach_batch_additive(
        "user_id", store, _sums, num_buckets=16
    )
    merge(_batch(spark, [(u, 1, 1) for u in range(40)]), 0)
    gens_before = {d for d in os.listdir(store) if d.startswith("gen-")}
    # one key -> at most one bucket touched in the new generation
    merge(_batch(spark, [(7, 1, 1)]), 1)
    new_gen = [
        d
        for d in os.listdir(store)
        if d.startswith("gen-") and d not in gens_before
    ]
    assert len(new_gen) == 1
    bucket_dirs = [
        d
        for d in os.listdir(os.path.join(store, new_gen[0]))
        if d.startswith("_bucket=")
    ]
    assert len(bucket_dirs) == 1
    # and the store still sums correctly
    row = (
        read_store(spark, store)
        .where(F.col("user_id") == 7)
        .first()
    )
    assert row["n"] == 2


def test_additive_random_batches_property(spark, tmp_path):
    """Hypothesis-style randomized check (seeded, deterministic): for
    arbitrary batch splits and key collisions, the store equals the
    one-shot aggregate of everything applied -- for per-key sums and
    for the balance fold."""
    import random

    rng = random.Random(42)
    store = str(tmp_path / "agg_prop")
    merge = foreach_batch_additive(
        "user_id", store, _sums, num_buckets=4
    )
    want: dict[int, tuple[int, int]] = {}
    bid = 0
    for _ in range(5):
        rows = [
            (rng.randrange(6), rng.randrange(1, 4), rng.randrange(100))
            for _ in range(rng.randrange(1, 8))
        ]
        for uid, n, amount in rows:
            cur = want.get(uid, (0, 0))
            want[uid] = (cur[0] + n, cur[1] + amount)
        merge(_batch(spark, rows), bid)
        bid += 1
        # occasional duplicate delivery of the batch just committed:
        # must be a no-op
        if rng.random() < 0.5:
            merge(_batch(spark, rows), bid - 1)

    got = {
        r["user_id"]: (r["n"], r["amount"])
        for r in read_store(spark, store).collect()
    }
    assert got == want

    # the balance fold the streaming topology applies: random splits of
    # random transfer legs, each batch's token_balances partial folded
    # through the store, land on token_balances over all the legs --
    # the same balance and the same winning (block_timestamp,
    # index_in_chunk) metadata
    from decimal import Decimal

    from nearscan_kafka_streams_spark.operators.balance import (
        merge_balances,
        token_balances,
    )
    from nearscan_kafka_streams_spark.schemas import TOKEN_TRANSFER_SCHEMA
    from tests.test_balance_properties import _transfer_row

    legs = [
        {
            "account": rng.choice(["a.near", "b.near", "c.near", "d.near"]),
            "amount": rng.randrange(-(10**30), 10**30),
            "ts": rng.randrange(20),
            "idx": rng.randrange(5),
        }
        for _ in range(rng.randrange(10, 30))
    ]
    transfers = [_transfer_row(i, d) for i, d in enumerate(legs)]
    cuts = sorted(rng.sample(range(1, len(transfers)), 3))
    splits = [
        transfers[i:j] for i, j in zip([0, *cuts], [*cuts, len(transfers)])
    ]
    balance_store = str(tmp_path / "balance_prop")
    fold = foreach_batch_additive(
        "account", balance_store, merge_balances, num_buckets=4
    )
    for bid, split in enumerate(splits):
        partial = token_balances(
            spark.createDataFrame(split, TOKEN_TRANSFER_SCHEMA)
        )
        fold(partial, bid)
        if rng.random() < 0.5:
            fold(partial, bid)  # duplicate delivery: a no-op

    def by_account(df):
        return {
            r["account"]: (
                r["balance"], int(r["block_timestamp"]), r["index_in_chunk"]
            )
            for r in df.collect()
        }

    folded = by_account(read_store(spark, balance_store))
    assert folded == by_account(
        token_balances(spark.createDataFrame(transfers, TOKEN_TRANSFER_SCHEMA))
    )
    for acct, (balance, ts, idx) in folded.items():
        acct_legs = [d for d in legs if d["account"] == acct]
        assert balance == Decimal(sum(d["amount"] for d in acct_legs))
        assert (ts, idx) == max((d["ts"], d["idx"]) for d in acct_legs)


def test_additive_store_survives_compaction_and_further_merges(spark, tmp_path):
    """compact_store works on additive stores unchanged (it rewrites
    the manifest's consistent view), and merges continue correctly
    after the rewrite."""
    from nearscan_kafka_streams_spark.sinks.upsert import compact_store

    store = str(tmp_path / "agg_compact")
    merge = foreach_batch_additive(
        "user_id", store, _sums, num_buckets=4
    )
    merge(_batch(spark, [(1, 1, 10), (2, 2, 20)]), 0)
    merge(_batch(spark, [(1, 3, 30), (3, 1, 5)]), 1)
    compact_store(spark, store, num_buckets=2)  # also re-buckets
    merge(_batch(spark, [(2, 1, 1)]), 2)
    got = {
        r["user_id"]: (r["n"], r["amount"])
        for r in read_store(spark, store).collect()
    }
    assert got == {1: (4, 40), 2: (3, 21), 3: (1, 5)}


def test_store_doubles_buckets_past_split_size(spark, tmp_path):
    """A new store starts at 4 buckets; the fold that leaves its median
    bucket file above ``spark.sql.files.maxPartitionBytes`` re-buckets
    it to 8 at the same version, and a fold that stays below keeps the
    count.  Sums and the replay guard hold throughout."""
    from nearscan_kafka_streams_spark.sinks.upsert import _load_manifest

    store = str(tmp_path / "grow")
    merge = foreach_batch_additive("user_id", store, _sums)
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    # one bucket file: ~1.1 KB at 10 keys, ~9 KB at 1,000, ~5 KB at 500
    spark.conf.set(key, "6k")
    try:
        merge(_batch(spark, [(i, 1, i) for i in range(40)]), 0)
        assert _load_manifest(store)["num_buckets"] == 4
        merge(_batch(spark, [(i, 1, i) for i in range(4000)]), 1)
        grown = _load_manifest(store)
        assert (grown["num_buckets"], grown["last_batch_id"]) == (8, 1)
        assert len(grown["buckets"]) == 8
        merge(_batch(spark, [(0, 5, 5)]), 2)
        merge(_batch(spark, [(0, 5, 5)]), 1)  # replay: skipped
        assert _load_manifest(store)["num_buckets"] == 8
    finally:
        spark.conf.set(key, prev)
    got = {
        r["user_id"]: (r["n"], r["amount"])
        for r in read_store(spark, store).collect()
    }
    want = {i: (1, i) for i in range(4000)}
    for i in range(40):
        want[i] = (2, 2 * i)
    want[0] = (7, 5)
    assert got == want
