"""Round-7 second wave: hybrid RRF retrieval, MinHash candidate
precision/recall audit, lang-id confusion matrix.

Python recomputations + cross-leg consistency; full-value equality is
the DuckDB hash oracle's job."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from nearscan_kafka_streams_spark.queries._base import _t
from nearscan_kafka_streams_spark.queries.relational import bm25_retrieval
from nearscan_kafka_streams_spark.queries.corpus_ops import (
    dedup_minhash_banded_md5,
)
from nearscan_kafka_streams_spark.queries.round7 import (
    hybrid_rrf_retrieval,
    lang_id_confusion,
    minhash_candidate_pr_audit,
)


def test_hybrid_rrf_scores_and_ranks(spark, sf_dir):
    rows = hybrid_rrf_retrieval(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    for r in rows:
        exp = 0
        if r["rank_text"] is not None:
            assert 1 <= r["rank_text"] <= 100
            exp += 1_000_000 // (60 + r["rank_text"])
        if r["rank_dense"] is not None:
            assert 1 <= r["rank_dense"] <= 100
            exp += 1_000_000 // (60 + r["rank_dense"])
        assert r["rrf_ppm"] == exp and exp > 0
    scores = [r["rrf_ppm"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # the dense query doc (vec 0 vs itself, cosine 1) must rank first
    # on the dense leg
    by_doc = {r["doc_id"]: r for r in rows}
    if 0 in by_doc and by_doc[0]["rank_dense"] is not None:
        assert by_doc[0]["rank_dense"] == 1


def test_hybrid_text_leg_agrees_with_bm25_topk(spark, sf_dir):
    # the lexical leg reuses _bm25_scored_docs: the hybrid's best
    # rank_text doc must be bm25_retrieval's #1
    top_bm25 = bm25_retrieval(spark, sf_dir).collect()[0]["doc_id"]
    rows = hybrid_rrf_retrieval(spark, sf_dir).collect()
    best_text = [r for r in rows if r["rank_text"] == 1]
    if best_text:  # rank-1 text doc may fall out of fused top-20 only
        assert best_text[0]["doc_id"] == top_bm25


def test_minhash_pr_audit_counts_consistent(spark, sf_dir):
    row = minhash_candidate_pr_audit(spark, sf_dir).collect()
    assert len(row) == 1
    r = row[0]
    assert r["n_hits"] <= min(r["n_candidates"], r["n_truth"])
    # the audit uses the 2-bands-of-4 geometry (t ~ 0.84), not the
    # registered 4x2 query's
    from nearscan_kafka_streams_spark.queries.corpus_ops import (
        _md5_banded_candidates,
    )

    d = _t(spark, sf_dir, "documents")
    n_cand = _md5_banded_candidates(
        d, n_hashes=8, rows_per_band=4, bucket_cap=200
    ).count()
    assert r["n_candidates"] == n_cand
    # tighter banding (even uncapped) is a subset of the looser 4x2
    n_tight = _md5_banded_candidates(d, n_hashes=8, rows_per_band=4).count()
    assert n_cand <= n_tight <= dedup_minhash_banded_md5(spark, sf_dir).count()
    if r["n_candidates"] > 0:
        assert r["precision_ppm"] == r["n_hits"] * 1_000_000 // r["n_candidates"]
    if r["n_truth"] > 0:
        assert r["recall_ppm"] == r["n_hits"] * 1_000_000 // r["n_truth"]


def test_lang_confusion_shares_and_totals(spark, sf_dir):
    rows = lang_id_confusion(spark, sf_dir).collect()
    d = _t(spark, sf_dir, "documents")
    assert sum(r["n_docs"] for r in rows) == d.count()
    per_lang: Counter = Counter()
    for r in rows:
        per_lang[r["lang"]] += r["n_docs"]
    for r in rows:
        assert r["share_ppm"] == r["n_docs"] * 1_000_000 // per_lang[r["lang"]]
    # predictions come from the declared lang-id domain
    assert {r["lang_pred"] for r in rows} <= {"en", "de", "fr", "es", "und"}


def test_lang_confusion_shares_sum_to_unity(spark, sf_dir):
    # per declared lang, ppm shares sum to 1e6 minus at most one
    # truncation unit per cell (integer div truncates each cell)
    rows = lang_id_confusion(spark, sf_dir).collect()
    per_lang: dict[str, list[int]] = {}
    for r in rows:
        per_lang.setdefault(r["lang"], []).append(r["share_ppm"])
    for lang, shares in per_lang.items():
        total = sum(shares)
        assert 1_000_000 - len(shares) < total <= 1_000_000, (lang, shares)
