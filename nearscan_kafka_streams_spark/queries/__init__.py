"""Driver-facing query inventory (SURVEY (S)2 + north-star operators).

Each entry is a (spark, sf_dir) -> DataFrame callable paired with an
ANSI-SQL oracle string runnable by DuckDB over the same parquet tables
(pre-registered views: region nation customer supplier part orders
lineitem events documents embeddings).

Conventions for oracle hash-matching:
- every computed column is aliased IDENTICALLY in Spark and SQL;
- double aggregates are rounded to a fixed precision on BOTH sides
  (ulp-level summation-order differences otherwise break the hash);
- deterministic tie-breaks on every top-k / window ordering;
- cross-engine hashes (fingerprints) use md5, which both engines
  implement identically; engine-internal dedup keeps xxhash64.

Queries whose operators are genuinely not SQL-expressible (MinHash-LSH,
SimHash, hyperplane-LSH ANN, mapInPandas decode) have no oracle entry;
the driver records a weaker rows-only check for them (per contract).

Reference parity notes are in each docstring; the NEAR-domain topology
itself (TokenBalance.java) is exercised by tests/ over FIXTURES.md
fixtures since the driver tables are TPC-H-shaped, while its operator
shapes (dedup / interval join / as-of / flat-map explode / sum+max_by
running aggregate) are each expressed below over the events table.

Each query module calls ``_base.register(fn, oracle=SQL)`` once per
query, right after the query's oracle string; this package imports
the modules in a fixed order and builds ``QUERIES`` and ``ORACLES``
from those registrations.  Import a query or helper from its defining
module, or look it up as ``QUERIES[name]``.

Registry order is the rotation contract: the correctness gate
hash-samples the first ~50 ``QUERIES`` entries, so ``_FRONT`` leads
and the rest follow in registration order.
"""
from __future__ import annotations

# import order is registration order (the QUERIES tail after _FRONT)
from . import (  # noqa: F401
    relational,
    topology,
    text,
    dedup,
    similarity,
    corpus_ops,
    round5,
    round6,
    round7,
    round7w8,
)
from ._base import REGISTERED, Query

# Round-13 rotation.  Changed lane: every query path whose plan changed
# in rounds 12-13 -- the dense-regime bitmap all-pairs joins (producer,
# the 7 staged consumers, both pipelines), the global-rank total-count
# fuse consumers and the _spread starvation-fix set.  Stale lane: the
# alphabetical head of the entries last verified green in round 8 (25
# of 26; vocab_topk carries to round 14).  25 changed + 25 stale = 50.
_REVERIFY_R13: list[str] = []
_ROUND13_NEW: list[str] = []
_CHANGED_R13: list[str] = [
    # dense-regime bitmap all-pairs family (r12 re-plan + r13 verify
    # expression / gate changes)
    "dedup_ngram_jaccard",
    "dedup_ngram_containment",
    "dedup_clusters",
    "dedup_clusters_star",
    "dedup_cluster_census",
    "minhash_candidate_pr_audit",
    "dedup_threshold_sweep",
    "dedup_cluster_source_span",
    "corpus_clean_pipeline",
    "corpus_curate_pipeline",
    # global-rank total-count fuse (r12)
    "rfm_segments_customers",
    "trimmed_mean_lineitem",
    "percentiles_global_lineitem",
    "equidepth_histogram_orders",
    "scan_pruning_audit_lineitem",
    # _spread starvation-fix set (r12)
    "ann_pq_cosine",
    "ann_ivf_cosine",
    "char_entropy_documents",
    "quality_model_score",
    "dedup_edit_distance_titles",
    "source_overlap_matrix",
    "ngram_novelty_sources",
    "hard_negative_mining",
    "lang_id_confusion",
    "profile_orders",
]
_STALE_R13: list[str] = [
    # last verified green in round 8 (alphabetical head; the two changed-
    # lane overlaps scan_pruning_audit_lineitem / trimmed_mean_lineitem
    # are carried above)
    "q12_priority_lines", "q14_promo_revenue", "q15_top_supplier",
    "q17_small_quantity_revenue", "q18_large_orders",
    "q19_discounted_revenue", "q1_pricing_summary",
    "q22_dormant_customers", "q3_shipping_priority", "q4_order_priority",
    "q5_local_supplier_volume", "running_balance_events",
    "scalar_functions_events", "stratified_sample_documents",
    "term_doc_stats", "text_fingerprint", "text_lang_id",
    "text_quality_score", "text_repetition", "text_scrub",
    "text_token_count", "token_budget_shards",
    "token_budget_waterfill_sources", "tumbling_window_events",
    "unpivot_lineitem",
]
_FRONT = [
    *_REVERIFY_R13,
    *_ROUND13_NEW,
    *_CHANGED_R13,
    *_STALE_R13,
]
assert len(_FRONT) == 50, len(_FRONT)
assert len(_FRONT) == len(set(_FRONT)), "duplicate rotation entry"
assert set(_FRONT) <= set(REGISTERED), sorted(set(_FRONT) - set(REGISTERED))

QUERIES: dict[str, Query] = {k: REGISTERED[k][0] for k in _FRONT}
QUERIES.update(
    (k, fn) for k, (fn, _) in REGISTERED.items() if k not in QUERIES
)
ORACLES: dict[str, str] = {
    k: sql for k, (_, sql) in REGISTERED.items() if sql is not None
}
