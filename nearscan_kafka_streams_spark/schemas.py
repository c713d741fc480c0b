"""Declared schemas for the six topic record types.

Mirror of the reference's ``Schemas.Topics`` registry
(/root/reference/src/main/java/network/octopus/nearin/util/Schemas.java:73-111)
and the Avro value schemas under
/root/reference/src/main/resources/avro/network/octopus/nearin/*.avsc.

Type decisions (SURVEY (S)1.2 / (S)7.4.1):
- Avro ``bytes``+``decimal(20,0)`` (ns block timestamps, gas)  -> DecimalType(20,0)
- Avro ``bytes``+``decimal(45,0)`` (yocto amounts)             -> DecimalType(38,0)
  (Spark's precision cap; observed magnitudes <=~1e33, headroom to 1e38;
  a wider wire value fails the read, see AMOUNT_TYPE)
- Debezium enum-as-string / JSON-as-string                      -> StringType
- ``__deleted`` union["null","string"]                          -> nullable StringType

Event time: the reference defines per-topic ns->ms timestamp extractors
(util/Schemas.java:59-70, 89-109) though they are commented out at use
sites (TokenBalance.java:95,103,111 -- it effectively joins on Kafka
ingest time).  We implement the extractors' evident intent: an explicit
``event_time`` TimestampType column derived from the ns-decimal block
timestamp, feeding ``withWatermark`` (SURVEY (S)7.4.3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DecimalType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# yocto-scale token amounts: reference declares decimal(45,0); Spark caps
# precision at 38 (SURVEY (S)7.4.1).  A wire value wider than its field
# here (an amount past 10^38, a gas count or timestamp past 10^20) fails
# the read, naming the field, the record and the segment or Kafka
# offset (serde/avro_vec.py::decode_frames): a null would drop the row
# from the joins or the balances without a trace
AMOUNT_TYPE = DecimalType(38, 0)
# ns-epoch block timestamps / gas counters: decimal(20,0)
TS_NS_TYPE = DecimalType(20, 0)


def _f(name: str, dtype, nullable: bool = False) -> StructField:
    return StructField(name, dtype, nullable)


# near.indexer.receipts-value.avsc:1 ; upstream DDL up.sql:227-238
RECEIPTS_SCHEMA = StructType(
    [
        _f("receipt_id", StringType()),
        _f("included_in_block_hash", StringType()),
        _f("included_in_chunk_hash", StringType()),
        _f("index_in_chunk", IntegerType()),
        _f("included_in_block_timestamp", TS_NS_TYPE),
        _f("predecessor_account_id", StringType()),
        _f("receiver_account_id", StringType()),
        _f("receipt_kind", StringType()),  # enum {ACTION, DATA}
        _f("originated_from_transaction_hash", StringType()),
        _f("__deleted", StringType(), nullable=True),
    ]
)

# near.indexer.execution_outcomes-value.avsc:1 ; up.sql:210-221
EXECUTION_OUTCOMES_SCHEMA = StructType(
    [
        _f("receipt_id", StringType()),
        _f("executed_in_block_hash", StringType()),
        _f("executed_in_block_timestamp", TS_NS_TYPE),
        _f("index_in_chunk", IntegerType()),
        _f("gas_burnt", TS_NS_TYPE),
        _f("tokens_burnt", AMOUNT_TYPE),  # reference: decimal(45,0)
        _f("executor_account_id", StringType()),
        # enum {UNKNOWN, FAILURE, SUCCESS_VALUE, SUCCESS_RECEIPT_ID}
        _f("status", StringType()),
        _f("shard_id", TS_NS_TYPE),
        _f("__deleted", StringType(), nullable=True),
    ]
)

# near.indexer.action_receipt_actions-value.avsc:1 ; up.sql:113-118
ACTION_RECEIPT_ACTIONS_SCHEMA = StructType(
    [
        _f("receipt_id", StringType()),
        _f("index_in_action_receipt", IntegerType()),
        _f("action_kind", StringType()),  # enum, only FUNCTION_CALL used
        _f("args", StringType()),  # Debezium JSON-as-string
        _f("receipt_predecessor_account_id", StringType()),
        _f("receipt_receiver_account_id", StringType()),
        _f("receipt_included_in_block_timestamp", TS_NS_TYPE),
        _f("__deleted", StringType(), nullable=True),
    ]
)

# near.indexer.token_transfer-value.avsc:1 ; built TokenBalance.java:128-146
TOKEN_TRANSFER_SCHEMA = StructType(
    [
        _f("receipt_id", StringType()),
        _f("included_in_block_hash", StringType()),
        _f("included_in_chunk_hash", StringType()),
        _f("index_in_chunk", IntegerType()),
        _f("included_in_block_timestamp", TS_NS_TYPE),
        _f("predecessor_account_id", StringType()),
        _f("receiver_account_id", StringType()),
        _f("originated_from_transaction_hash", StringType()),
        _f("gas_burnt", TS_NS_TYPE),
        _f("tokens_burnt", AMOUNT_TYPE),
        _f("executor_account_id", StringType()),
        _f("status", StringType()),
        _f("shard_id", TS_NS_TYPE),
        _f("index_in_action_receipt", IntegerType()),
        _f("action_kind", StringType()),
        _f("args", StringType()),
        _f("affected_account", StringType()),
        _f("affected_amount", AMOUNT_TYPE),  # signed
        _f("affected_reason", StringType()),
        _f("transfer_from", StringType()),
        _f("transfer_to", StringType()),
    ]
)

# near.indexer.token_balance-value.avsc:1 ; aggregate TokenBalance.java:279-329
TOKEN_BALANCE_SCHEMA = StructType(
    [
        _f("account", StringType()),
        _f("balance", AMOUNT_TYPE),
        _f("block_timestamp", TS_NS_TYPE),
        _f("block_hash", StringType()),
        _f("chunk_hash", StringType()),
        _f("transaction_hash", StringType()),
        _f("receipt_id", StringType()),
        _f("index_in_chunk", IntegerType()),
    ]
)

# args JSON payload (TokenBalance.java:152-270; FIXTURES.md payload table).
# One declared schema for from_json covering every method's fields; absent
# fields decode as null, matching Gson's optional field access.
ARGS_JSON_SCHEMA = StructType(
    [
        _f("gas", StringType(), nullable=True),
        _f("deposit", StringType(), nullable=True),
        _f("method_name", StringType(), nullable=True),
        StructField(
            "args_json",
            StructType(
                [
                    _f("owner_id", StringType(), nullable=True),
                    _f("total_supply", StringType(), nullable=True),
                    _f("account_id", StringType(), nullable=True),
                    _f("amount", StringType(), nullable=True),
                    _f("recipient", StringType(), nullable=True),
                    _f("receiver_id", StringType(), nullable=True),
                    _f("sender_id", StringType(), nullable=True),
                ]
            ),
            True,
        ),
    ]
)


def event_time_from_ns(ns_col: Column) -> Column:
    """ns-epoch decimal(20,0) -> TimestampType (microsecond precision).

    Mirror of the ns->ms extractors (util/Schemas.java:59-70) but kept at
    us precision: Spark timestamps are us-backed, so ns/1000 loses nothing
    Spark can represent.
    """
    return F.timestamp_micros((ns_col / F.lit(1000)).cast("long"))


def with_event_time(
    df: DataFrame, ts_col: str, out_col: str = "event_time"
) -> DataFrame:
    """Attach the explicit event-time column used by watermarks/joins."""
    return df.withColumn(out_col, event_time_from_ns(F.col(ts_col)))


# Avro wire declarations: amount fields are decimal(45,0) in the
# reference's .avsc files (tokens_burnt/affected_amount/balance); Spark
# holds them as decimal(38,0) (cap above), but the generated wire schema
# restores the declared precision so frames stay byte-compatible
AVRO_PRECISION_OVERRIDES = {
    "tokens_burnt": 45,
    "affected_amount": 45,
    "balance": 45,
}


def avro_value_schema(topic: str) -> dict:
    """Generated Avro value schema for a topic (mirror of the
    ``near.indexer.<topic>-value.avsc`` layout: record ``Value`` in
    namespace ``near.indexer.<topic>``)."""
    from nearscan_kafka_streams_spark.serde.avro import avro_schema_from_struct

    struct = TOPIC_SCHEMAS[topic][0]
    return avro_schema_from_struct(
        struct,
        name="Value",
        namespace=f"near.indexer.{topic}",
        precision_overrides=AVRO_PRECISION_OVERRIDES,
    )


# topic registry: name -> (schema, event-time source column); mirror of
# Schemas.Topics (util/Schemas.java:73-111)
TOPIC_SCHEMAS: dict[str, tuple[StructType, str]] = {
    "receipts": (RECEIPTS_SCHEMA, "included_in_block_timestamp"),
    "execution_outcomes": (EXECUTION_OUTCOMES_SCHEMA, "executed_in_block_timestamp"),
    "action_receipt_actions": (
        ACTION_RECEIPT_ACTIONS_SCHEMA,
        "receipt_included_in_block_timestamp",
    ),
    "token_transfer": (TOKEN_TRANSFER_SCHEMA, "included_in_block_timestamp"),
    "token_balance": (TOKEN_BALANCE_SCHEMA, "block_timestamp"),
}
