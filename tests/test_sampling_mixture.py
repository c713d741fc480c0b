"""Weighted sampling (A-ES), mixture upsampling, and bloom-prune join.

Verification model: each operator is deterministic by construction
(md5-derived keys), so tests check (a) exact agreement with a pure-
Python reference on the same data, (b) the statistical property the
operator exists for, and (c) the plan shape that makes it scale.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from nearscan_kafka_streams_spark.queries.corpus_ops import (
    MIXTURE_EPOCHS,
    MIXTURE_EPOCHS_DEFAULT,
    bloom_prune_join_orders,
    mixture_upsample_documents,
    weighted_sample_documents,
)
from nearscan_kafka_streams_spark.queries._base import _t


def _aes_key(doc_id: int, n_chars: int) -> float:
    u32 = int(hashlib.md5(f"{doc_id}:ws".encode()).hexdigest()[:8], 16)
    u = (u32 + 0.5) / 4294967296.0
    return math.log(u) / max(n_chars, 1)


def test_weighted_sample_matches_python_reference(spark, sf_dir):
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .collect()
    )
    k = 500
    want = sorted(
        ((-_aes_key(r["doc_id"], r["n_chars"]), r["doc_id"]) for r in docs)
    )[:k]
    want_ids = sorted(doc_id for _, doc_id in want)

    got = weighted_sample_documents(spark, sf_dir)
    got_ids = sorted(r["doc_id"] for r in got.collect())
    assert got_ids == want_ids


def test_weighted_sample_prefers_long_documents(spark, sf_dir):
    """Inclusion probability ~ n_chars: a sample much smaller than the
    corpus must have mean length above the corpus mean (that is the
    point of weighting).  k is shrunk to corpus/5 so the preference is
    observable even on the sf0.001 fixture (k=500 there would take
    most of the corpus and the means would coincide)."""
    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    k = max(10, n // 5)
    corpus_mean = docs.agg(F.avg("n_chars")).first()[0]
    sample_mean = (
        weighted_sample_documents(spark, sf_dir, k=k)
        .agg(F.avg("n_chars"))
        .first()[0]
    )
    assert sample_mean > corpus_mean


def test_weighted_sample_plan_is_take_ordered(spark, sf_dir):
    """Top-k must be TakeOrderedAndProject (per-partition heaps), not a
    global Sort + Limit -- the corpus never fully sorts."""
    plan = weighted_sample_documents(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan


def _mix_copies(doc_id: int, source: str) -> int:
    full, thr = MIXTURE_EPOCHS.get(source, MIXTURE_EPOCHS_DEFAULT)
    nib = int(hashlib.md5(f"{doc_id}:mix".encode()).hexdigest()[0], 16)
    return full + (1 if nib < thr else 0)


def test_mixture_upsample_matches_python_reference(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source").collect()
    want = sorted(
        (r["doc_id"], r["source"], c)
        for r in docs
        for c in range(1, _mix_copies(r["doc_id"], r["source"]) + 1)
    )
    got = sorted(
        map(tuple, mixture_upsample_documents(spark, sf_dir).collect())
    )
    assert got == want


def test_mixture_upsample_epoch_semantics(spark, sf_dir):
    """Per-source replica counts land near the fractional epoch spec,
    and every doc's replica count is in {floor(e), ceil(e)}."""
    out = mixture_upsample_documents(spark, sf_dir)
    per_doc = (
        out.groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    n_src = {
        r["source"]: r["n"]
        for r in _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    emitted: dict[str, int] = {}
    for r in per_doc:
        full, thr = MIXTURE_EPOCHS.get(r["source"], MIXTURE_EPOCHS_DEFAULT)
        assert r["n"] in {full, full + 1}, (r["doc_id"], r["source"], r["n"])
        emitted[r["source"]] = emitted.get(r["source"], 0) + r["n"]
    # per-source totals equal the deterministic md5-nibble expectation
    want_totals: dict[str, int] = {}
    for r in _t(spark, sf_dir, "documents").select("doc_id", "source").collect():
        want_totals[r["source"]] = (
            want_totals.get(r["source"], 0)
            + _mix_copies(r["doc_id"], r["source"])
        )
    assert emitted == {s: n for s, n in want_totals.items() if n > 0}
    # src1 (exactly 1.0 epochs) must be emitted exactly once per doc
    if "src1" in n_src:
        assert emitted["src1"] == n_src["src1"]


def test_mixture_upsample_plan_has_no_shuffle(spark, sf_dir):
    plan = mixture_upsample_documents(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure map-side explode


def test_bloom_prune_equals_plain_join(spark, sf_dir):
    """The lossy prefilter must not change the exact-join answer."""
    cust = _t(spark, sf_dir, "customer").where(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_nationkey") < 5)
    )
    plain = (
        _t(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / F.lit(100.0)
            ).alias("total_price"),
        )
    )
    got = sorted(map(tuple, bloom_prune_join_orders(spark, sf_dir).collect()))
    want = sorted(map(tuple, plain.collect()))
    assert got == want


def test_bloom_prune_filters_at_scan(spark, sf_dir):
    """The two hashed-position semi-joins really prune: fact rows
    surviving the prefilter are far fewer than the fact table, yet
    include every true match."""
    m = 1 << 17
    cust = _t(spark, sf_dir, "customer").where(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_nationkey") < 5)
    )
    fact = _t(spark, sf_dir, "orders")
    pruned = fact
    for seed in (1, 2):
        pos = cust.select(
            F.pmod(F.xxhash64(F.col("c_custkey"), F.lit(seed)), F.lit(m))
            .alias("pos")
        ).distinct()
        pruned = pruned.join(
            F.broadcast(pos),
            F.pmod(F.xxhash64(F.col("o_custkey"), F.lit(seed)), F.lit(m))
            == F.col("pos"),
            "left_semi",
        )
    n_fact = fact.count()
    n_pruned = pruned.count()
    n_true = fact.join(
        cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi"
    ).count()
    assert n_true <= n_pruned < n_fact
    # selective dim -> the prefilter should drop the large majority
    assert n_pruned < 0.7 * n_fact

    plan = bloom_prune_join_orders(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    # 2 semi prefilters + 1 exact join, all broadcast; fact never shuffles
    # before the final tiny aggregate
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
