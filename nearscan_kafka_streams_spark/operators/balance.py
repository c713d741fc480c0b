"""A1: per-account running token balance with latest-event metadata.

Reference: ``groupByKey(affected_account).aggregate(init, adder)``
(TokenBalance.java:279-329):
  (a) balance += affected_amount        -- order-independent BigDecimal sum (:315)
  (b) metadata (block_timestamp, hashes, receipt_id, index_in_chunk)
      of the LATEST event, ordered by (included_in_block_timestamp,
      index_in_chunk); replace iff new_ts > agg_ts, or new_ts == agg_ts
      and new_idx >= agg_idx (:300-314)
  (c) first record initializes both (:291-299)

Spark mapping (SURVEY (S)2.4 A1): declarative ``sum`` + ``max_by`` over a
composite ordering struct.  ``max_by(meta, struct(ts, idx))`` is
order-free; it agrees with the arrival-order adder whenever
(ts, idx) pairs are unique per account -- the degenerate equal-pair case
is pinned to deterministic max_by semantics (SURVEY (S)7.4.2).

Scale notes: a single hash aggregation with map-side partial
aggregation; the shuffle is partitioned by account.  The streaming
topology keeps no balance state: it folds each micro-batch's partial
into the keyed store with the same merge.  No skew concern beyond
AQE's handling (one hot account still fits: the partial aggregate
collapses per-partition rows first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# token_transfer column -> token_balance metadata column
# (near.indexer.token_balance-value.avsc; adder TokenBalance.java:300-314)
_META_MAP = [
    ("included_in_block_timestamp", "block_timestamp"),
    ("included_in_block_hash", "block_hash"),
    ("included_in_chunk_hash", "chunk_hash"),
    ("originated_from_transaction_hash", "transaction_hash"),
    ("receipt_id", "receipt_id"),
    ("index_in_chunk", "index_in_chunk"),
]


def merge_balances(rows: DataFrame, keys: list[str]) -> DataFrame:
    """Fold token_balance-shaped rows into one row per ``keys``:
    ``balance`` sums, the metadata comes from the row with the max
    (block_timestamp, index_in_chunk).  Both are associative, so folding
    per-batch partials (the streaming store, one batch at a time) lands
    on the same rows as one pass over every transfer (``token_balances``).
    """
    meta = [dst for _, dst in _META_MAP]
    latest = F.max_by(
        F.struct(*meta), F.struct("block_timestamp", "index_in_chunk")
    )
    agg = rows.groupBy(*keys).agg(
        # sum() widens decimal(38,0) -> (38,0) stays within cap; keep type
        F.sum("balance").cast("decimal(38,0)").alias("balance"),
        latest.alias("_latest"),
    )
    return agg.select(
        *keys, "balance", *[F.col(f"_latest.{c}").alias(c) for c in meta]
    )


def token_balances(transfers: DataFrame) -> DataFrame:
    """token_transfer rows -> one token_balance row per account."""
    rows = transfers.select(
        F.col("affected_account").alias("account"),
        F.col("affected_amount").alias("balance"),
        *[F.col(src).alias(dst) for src, dst in _META_MAP],
    )
    return merge_balances(rows, ["account"])
