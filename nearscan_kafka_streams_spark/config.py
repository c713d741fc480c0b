"""Pipeline configuration.

Mirrors the reference's ``.properties`` config surface
(/root/reference/src/main/resources/config/dev.properties:1-30 and the
loader TokenBalance.java:357-366) as a typed dataclass.  Only the keys
the topology actually reads are modeled; Kafka/SchemaRegistry
credentials become generic ``kafka_options`` passed straight to the
Spark Kafka source/sink.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    """Configuration for the token-balance pipeline.

    Reference keys (dev.properties):
      token.address/symbol/decimals  -> token_address/symbol/decimals (:5-7)
      receipts.topic et al.          -> *_topic (:9-13)
      commit.interval.ms=500         -> trigger_interval (:3)
    Spark-specific knobs (join tolerance, dedup window, watermark) encode
    TokenBalance.java:82-122 constants but are configurable per SURVEY
    (S)7.4.3 (the reference hard-codes +/-2s join windows and a 60-min
    dedup window).
    """

    # token identity (dev.properties:5-7)
    token_address: str = "oct.beta_oct_relay.testnet"
    token_symbol: str = "OCT"
    token_decimals: int = 24

    # topics (dev.properties:9-13)
    receipts_topic: str = "near.indexer.receipts"
    execution_outcomes_topic: str = "near.indexer.execution_outcomes"
    action_receipt_actions_topic: str = "near.indexer.action_receipt_actions"
    transfer_topic: str = "nearin.oct_transfer"
    balance_topic: str = "nearin.oct_balance"

    # streaming semantics
    # join tolerance: JoinWindows.of(2000ms), TokenBalance.java:118,122
    join_tolerance: str = "2 seconds"
    # batch join bound on BLOCK time; None (default) = unbounded equi-
    # join.  The reference's 2s window runs on Kafka ingest time (its
    # event-time extractors are disabled), so delayed-execution receipts
    # join there; an event-time bound would silently drop them in batch
    # (ADVICE r1).  Set e.g. "2 seconds" to mirror the tight window.
    batch_join_tolerance: str | None = None
    # dedup window: 60 min total (+/-30 min), TokenBalance.java:82
    dedup_watermark: str = "30 minutes"
    # watermark delay for join inputs (bounds join state); the reference
    # retains join state 2s + grace but we allow generous lateness
    join_watermark: str = "30 minutes"
    # commit.interval.ms=500 (dev.properties:3)
    trigger_interval: str = "500 milliseconds"

    checkpoint_dir: str = "/tmp/nearscan-spark-checkpoints"
    kafka_bootstrap: str = "localhost:9092"
    kafka_options: dict[str, str] = field(default_factory=dict)
    # wire format of Kafka message values: "json" or "avro" (Confluent
    # wire format: magic byte + 4-byte schema id + Avro body)
    wire_format: str = "json"


DEFAULT_CONFIG = PipelineConfig()
