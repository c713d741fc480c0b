"""Seeded input generator for the benchmark.

Every value is a hash of (seed, salt, record index), so one seed always
gives the same inputs and two seeds give unrelated ones.  Nothing here
imports Spark: inputs are built in plain Python and staged to files
before any timing starts, and the program under test only ever sees
those files.

NEAR rows follow the shape of ``testgen.generate_near_tables`` (70% of
receipts call the token contract; methods 50% ft_transfer, 20% mint,
10% withdraw, 10% ft_resolve_transfer, 10% unknown; 5% FAILURE
outcomes; 5,000 accounts), with block times 1 ms apart so that every
receipt has a distinct event time.  Documents follow
``testgen.generate_documents``: the first two of every ten ids are
planted near-duplicates that share a base text and differ in one
trailing word.
"""

from __future__ import annotations

import os
from decimal import Decimal

MASK64 = (1 << 64) - 1
T0_NS = 1_628_737_958_000_000_000  # 2021-08-12 in epoch ns
ACCOUNTS = 5000
TOKEN = "oct.beta_oct_relay.testnet"  # PipelineConfig.token_address default

TOPICS = ("receipts", "execution_outcomes", "action_receipt_actions")


def _mix(z: int) -> int:
    """splitmix64 finaliser."""
    z = (z + 0x9E3779B97F4A7C15) & MASK64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK64
    return z ^ (z >> 31)


class Hasher:
    """``h(salt, i)``: a 64-bit hash with the seed mixed into every call."""

    def __init__(self, seed: int):
        self._key = _mix(seed & MASK64)

    def __call__(self, salt: int, i: int) -> int:
        return _mix(self._key ^ _mix((salt << 40) ^ i))


# -- NEAR topic rows -----------------------------------------------------


def near_rows(h: Hasher, i: int) -> tuple[dict, dict, dict]:
    """(receipt, outcome, action) rows of receipt ``i``, as the Avro
    codec takes them (decimals as ``Decimal``)."""
    rid = f"r{i}"
    ts = T0_NS + i * 1_000_000
    pred = f"acct{h(3, i) % ACCOUNTS}"
    recv = f"acct{h(9, i) % ACCOUNTS}"
    target = TOKEN if h(1, i) % 10 < 7 else f"other{h(4, i) % 100}"
    amount = str((h(8, i) % 1_000_000 + 1) * 10**18)
    pick = h(7, i) % 10
    if pick < 5:
        args = ('"method_name":"ft_transfer","args_json":'
                f'{{"receiver_id":"{recv}","amount":"{amount}"}}')
    elif pick < 7:
        args = ('"method_name":"mint","args_json":'
                f'{{"account_id":"{recv}","amount":"{amount}"}}')
    elif pick < 8:
        args = ('"method_name":"withdraw","args_json":'
                f'{{"recipient":"0x{recv}","amount":"{amount}"}}')
    elif pick < 9:
        args = ('"method_name":"ft_resolve_transfer","args_json":'
                f'{{"sender_id":"{pred}","receiver_id":"{recv}",'
                f'"amount":"{amount}"}}')
    else:
        args = '"method_name":"ft_balance_of","args_json":{}'
    receipt = {
        "receipt_id": rid,
        "included_in_block_hash": f"bh{h(11, i):x}",
        "included_in_chunk_hash": f"ch{h(12, i):x}",
        "index_in_chunk": h(2, i) % 50,
        "included_in_block_timestamp": Decimal(ts),
        "predecessor_account_id": pred,
        "receiver_account_id": target,
        "receipt_kind": "ACTION",
        "originated_from_transaction_hash": f"tx{h(13, i):x}",
        "__deleted": None,
    }
    outcome = {
        "receipt_id": rid,
        "executed_in_block_hash": f"ebh{h(14, i):x}",
        "executed_in_block_timestamp": Decimal(ts + 1_000_000_000),
        "index_in_chunk": h(5, i) % 50,
        "gas_burnt": Decimal(3_000_000_000_000),
        "tokens_burnt": Decimal(3 * 10**20),
        "executor_account_id": TOKEN,
        "status": "FAILURE" if h(6, i) % 20 == 0 else "SUCCESS_VALUE",
        "shard_id": Decimal(1),
        "__deleted": None,
    }
    action = {
        "receipt_id": rid,
        "index_in_action_receipt": 0,
        "action_kind": "FUNCTION_CALL",
        "args": f'{{"gas":1,"deposit":"0",{args}}}',
        "receipt_predecessor_account_id": pred,
        "receipt_receiver_account_id": target,
        "receipt_included_in_block_timestamp": Decimal(ts),
        "__deleted": None,
    }
    return receipt, outcome, action


class Segment:
    """One segment of the tail: per topic, the Confluent-framed Avro records (already length-prefixed, ready to write as one log
    file) and the rows they carry."""

    def __init__(self, index: int, rows: dict[str, list[dict]],
                 framed: dict[str, bytes]):
        self.index = index
        self.rows = rows
        self.framed = framed
        self.records = sum(len(v) for v in rows.values())

    def write(self, root: str, name: str) -> None:
        """Write this segment's log files as ``{root}/{topic}/{name}``."""
        for topic in TOPICS:
            d = os.path.join(root, topic)
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, name), "wb") as fh:
                fh.write(self.framed[topic])


def wire_segments(seed: int, n_segments: int, per_segment: int,
                  redelivery: float = 0.05) -> list[Segment]:
    """``n_segments`` event-time-ordered segments of ``per_segment``
    receipts each.  Segment k > 0 also redelivers a seeded
    ``redelivery`` share of segment k-1's records (an at-least-once
    producer retry); being older, they lead the segment, so each log
    file stays in event-time order."""
    import struct

    from nearscan_kafka_streams_spark.schemas import avro_value_schema
    from nearscan_kafka_streams_spark.serde.avro import (
        AvroCodec,
        confluent_frame,
    )

    h = Hasher(seed)
    codecs = {t: AvroCodec(avro_value_schema(t)) for t in TOPICS}
    prefix = struct.Struct(">I")
    cut = int(redelivery * 1000)
    segments: list[Segment] = []
    prev: dict[str, list[dict]] = {t: [] for t in TOPICS}
    for k in range(n_segments):
        fresh: dict[str, list[dict]] = {t: [] for t in TOPICS}
        for i in range(k * per_segment, (k + 1) * per_segment):
            for t, row in zip(TOPICS, near_rows(h, i)):
                fresh[t].append(row)
        rows = {}
        framed = {}
        for salt, t in enumerate(TOPICS, start=30):
            again = [r for r in prev[t]
                     if h(salt, int(r["receipt_id"][1:])) % 1000 < cut]
            rows[t] = again + fresh[t]
            out = bytearray()
            for r in rows[t]:
                rec = confluent_frame(1, codecs[t].encode(r))
                out += prefix.pack(len(rec))
                out += rec
            framed[t] = bytes(out)
        segments.append(Segment(k, rows, framed))
        prev = fresh
    return segments


# -- documents -------------------------------------------------------------

_COMMON = (
    "the of and to in a is that for it data model train token scale "
    "batch query join shuffle stream index vector graph cache store "
    "merge filter window state event count hash plan stage task node "
    "text word pair rank alpha beta gamma delta omega sigma kappa theta "
    "river stone cloud field light sound metal glass north south east "
    "west rapid quiet sharp plain"
).split()
_LETTERS = "abcdefghijklmnopqrstuvwxyz"
_TAIL_WORDS = 26**4


def _word(h: Hasher, text_seed: int, pos: int) -> str:
    u = (h(22, text_seed * 1024 + pos) % 1_000_000) / 1_000_000.0
    if u < 0.25:
        return _COMMON[h(25, text_seed * 1024 + pos) % len(_COMMON)]
    # u^3 skew: a Zipf-like rank-frequency curve over 4-letter words
    rank = int(u**3 * _TAIL_WORDS)
    return "".join(_LETTERS[(rank // 26**e) % 26] for e in (3, 2, 1, 0))


def documents(seed: int, n_docs: int, near_dup_share: float = 0.2,
              group_size: int = 10, words: int = 50
              ) -> tuple[list[dict], set[tuple[int, int]]]:
    """``n_docs`` documents (doc_id, text, lang, source, n_chars) and the
    set of planted near-duplicate pairs ``(low id, high id)``.

    The first ``near_dup_share`` of each group of ``group_size``
    consecutive ids share the group's base text, so the planted pair
    count is the same for every seed; the seed picks the words."""
    h = Hasher(seed)
    near_per_group = round(near_dup_share * group_size)
    docs = []
    groups: dict[int, list[int]] = {}
    for i in range(n_docs):
        near = i % group_size < near_per_group
        text_seed = i - i % group_size if near else i
        text = " ".join(_word(h, text_seed, p) for p in range(words))
        if near:
            text += f" tail{i % group_size}"
            groups.setdefault(text_seed, []).append(i)
        docs.append({
            "doc_id": i,
            "text": text,
            "lang": ("en", "de", "fr")[h(23, i) % 3],
            "source": f"src{h(24, i) % 20}",
            "n_chars": len(text),
        })
    planted = {
        (a, b)
        for members in groups.values()
        for a in members
        for b in members
        if a < b
    }
    return docs, planted
