"""Reference results the benchmark checks the program against.

``stage_parquet`` writes generated topic rows with pyarrow (no Spark),
``duckdb_balances`` recomputes the topology in DuckDB SQL from those
files, and ``batch_balances`` runs the library's own ``run_batch`` over
them, so a streaming store can be held to both.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from gen import TOKEN, TOPICS


def _arrow_type(dtype):
    from pyspark.sql.types import DecimalType, IntegerType, StringType

    if isinstance(dtype, DecimalType):
        return pa.decimal128(dtype.precision, dtype.scale)
    if isinstance(dtype, IntegerType):
        return pa.int32()
    if isinstance(dtype, StringType):
        return pa.string()
    raise TypeError(f"no arrow type for {dtype}")


def stage_parquet(rows: dict[str, list[dict]], root: str) -> None:
    """Write ``rows[topic]`` as ``{root}/{topic}/part-0.parquet``."""
    from nearscan_kafka_streams_spark.schemas import TOPIC_SCHEMAS

    for topic in TOPICS:
        struct = TOPIC_SCHEMAS[topic][0]
        schema = pa.schema([(f.name, _arrow_type(f.dataType)) for f in struct.fields])
        os.makedirs(f"{root}/{topic}", exist_ok=True)
        pq.write_table(
            pa.Table.from_pylist(rows[topic], schema=schema),
            f"{root}/{topic}/part-0.parquet",
        )


def _key(row) -> tuple[str, ...]:
    return tuple("" if v is None else str(v) for v in row)


BALANCE_COLS = ("account", "balance", "block_timestamp", "block_hash",
                "chunk_hash", "transaction_hash", "receipt_id",
                "index_in_chunk")


def spark_rows(rows) -> set[tuple[str, ...]]:
    """Spark balance Rows -> comparable string tuples."""
    return {_key(r[c] for c in BALANCE_COLS) for r in rows}


def batch_balances(spark, root: str) -> set[tuple[str, ...]]:
    """``pipeline.run_batch`` over the staged parquet."""
    from nearscan_kafka_streams_spark.pipeline import run_batch
    from nearscan_kafka_streams_spark.schemas import TOPIC_SCHEMAS

    r, o, a = (
        spark.read.schema(TOPIC_SCHEMAS[t][0]).parquet(f"{root}/{t}")
        for t in TOPICS
    )
    return spark_rows(run_batch(r, o, a).balances.collect())


_BALANCES_SQL = """
WITH r AS (SELECT DISTINCT * FROM read_parquet('{root}/receipts/*.parquet')),
o AS (SELECT DISTINCT * FROM read_parquet('{root}/execution_outcomes/*.parquet')),
a AS (SELECT DISTINCT * FROM read_parquet('{root}/action_receipt_actions/*.parquet')),
j AS (
  SELECT r.*,
         json_extract_string(a.args, '$.method_name') AS m,
         json_extract_string(a.args, '$.args_json.amount') AS amt,
         json_extract_string(a.args, '$.args_json.receiver_id') AS to_id,
         json_extract_string(a.args, '$.args_json.sender_id') AS from_id,
         json_extract_string(a.args, '$.args_json.account_id') AS mint_id,
         json_extract_string(a.args, '$.args_json.owner_id') AS owner_id,
         json_extract_string(a.args, '$.args_json.total_supply') AS supply
  FROM r JOIN o USING (receipt_id) JOIN a USING (receipt_id)
  WHERE r.receiver_account_id = '{token}' AND o.status <> 'FAILURE'
    AND a.action_kind = 'FUNCTION_CALL'
),
legs AS (
  SELECT *, predecessor_account_id AS acct,
         -TRY_CAST(amt AS DECIMAL(38,0)) AS v
    FROM j WHERE m IN ('ft_transfer', 'withdraw')
  UNION ALL SELECT *, to_id, TRY_CAST(amt AS DECIMAL(38,0))
    FROM j WHERE m IN ('ft_transfer', 'ft_resolve_transfer')
  UNION ALL SELECT *, from_id, -TRY_CAST(amt AS DECIMAL(38,0))
    FROM j WHERE m = 'ft_resolve_transfer'
  UNION ALL SELECT *, mint_id, TRY_CAST(amt AS DECIMAL(38,0))
    FROM j WHERE m = 'mint'
  UNION ALL SELECT *, owner_id, TRY_CAST(supply AS DECIMAL(38,0))
    FROM j WHERE m = 'new'
)
SELECT acct, CAST(sum(v) AS DECIMAL(38,0)),
       arg_max([CAST(included_in_block_timestamp AS VARCHAR),
                included_in_block_hash, included_in_chunk_hash,
                originated_from_transaction_hash, receipt_id,
                CAST(index_in_chunk AS VARCHAR)],
               CAST(included_in_block_timestamp AS HUGEINT) * 100
               + index_in_chunk)
FROM legs WHERE acct IS NOT NULL AND v IS NOT NULL
GROUP BY acct
"""


def duckdb_balances(root: str) -> set[tuple[str, ...]]:
    """The topology recomputed in DuckDB over the staged parquet: dedup,
    inner joins on receipt_id, the NEP-141 legs, per-account sum and
    latest-event metadata."""
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(_BALANCES_SQL.format(root=root, token=TOKEN)).fetchall()
    finally:
        con.close()
    return {_key((acct, bal, *meta)) for acct, bal, meta in rows}


def conserved(balances: set[tuple[str, ...]], rows: dict[str, list[dict]]) -> bool:
    """Transfers net to zero, so the summed balance must equal minted
    minus withdrawn amounts (counted from the generated rows)."""
    import json

    ok = {r["receipt_id"] for r in rows["receipts"]
          if r["receiver_account_id"] == TOKEN}
    ok &= {r["receipt_id"] for r in rows["execution_outcomes"]
           if r["status"] != "FAILURE"}
    seen, net = set(), 0
    for a in rows["action_receipt_actions"]:
        rid = a["receipt_id"]
        if rid not in ok or rid in seen:
            continue
        seen.add(rid)
        args = json.loads(a["args"])
        sign = {"mint": 1, "withdraw": -1}.get(args["method_name"], 0)
        net += sign * int(args["args_json"].get("amount", 0))
    return sum(int(b[1]) for b in balances) == net
