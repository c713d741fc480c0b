"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line as the FINAL line of stdout:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "sf": <sf>, "n_queries": N, "error_count": N}

Per-query timings, plan fingerprints, 10x-stress ratios and any
per-query errors are written to a side file (BENCH_PLANS_r{NN}.json
next to this script) instead of the stdout line: the driver keeps only
a bounded (~2 KB) tail of stdout and json.loads the final line, so the
summary line must stay small (<500 bytes) and must come last.

Headline set -- the selection rule (why ~135 of 193 registry entries
are timed): HEADLINE carries (a) every end-to-end pipeline, (b) each
capability family's most expensive representative(s) -- the entries
whose physical plans exercise that family's scale-critical path
(broadcast join, SMJ, hash agg, window, explode, higher-order
functions, Pandas UDF, iterative joins) -- and (c) nothing whose plan
is a strict cheap subset of an already-timed sibling (e.g. the
fullprobe/fullbucket EXACT variants of benched approximate ANN ops,
or single-operator SQL shapes whose path the TPC-H series already
times).  FAMILY_PATTERNS below maps every registry entry to a family;
tests/test_bench_line.py asserts each family keeps >=1 HEADLINE
member, so a new family cannot silently go unbenched.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q18_large_orders",
    "broadcast_dim_join",
    "pivot_orders",
    "unpivot_lineitem",
    "percentile_acctbal",
    "window_rank_orders",
    "running_balance_events",
    "interval_join_events",
    "flatmap_legs_events",
    "tumbling_window_events",
    "sessionize_events",
    "text_quality_score",
    "text_fingerprint",
    "text_repetition",
    "text_scrub",
    "vocab_topk",
    "token_budget_shards",
    "profile_orders",
    "quality_model_score",
    "decontaminate_documents",
    "bpe_token_stats",
    "ann_pq_cosine",
    "dedup_exact_documents",
    "dedup_winnowed_spans",
    # round-12: the substring-span census (duplicate_spans) gained
    # _spread in round 11 (census-verified 3.9 -> 1.0 s) but had no
    # suite line, so a regression would have been invisible to the
    # auto-floor mechanism protecting every other hot op (round-11
    # verdict item 4)
    "dedup_substring_spans",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    # staged-edge consumers: MUST follow dedup_ngram_jaccard directly
    # (its last rep persists the shared Jaccard>=0.8 edge frame these
    # three compose over; see the staging block in main())
    "dedup_clusters",
    "dedup_clusters_star",
    "dedup_cluster_census",
    # round-7: the LSH tuning audit (truth leg) and the threshold
    # sweep consume the same staged edge frame, so they sit inside
    # the staging window
    "minhash_candidate_pr_audit",
    "dedup_threshold_sweep",
    # round-8: the mirror-crawl span census consumes the same staged
    # edge frame (CC + one doc_id-keyed source join)
    "dedup_cluster_source_span",
    # the clean pipeline's near-dup stage composes over the SAME
    # staged frame (pairwise Jaccard: full-corpus edges semi-joined
    # to its survivor ids == survivor-only self-join), so it closes
    # the staging window; its timing is the lang/quality/exact-dedup/
    # components/split cost given staged edges
    "corpus_clean_pipeline",
    "dedup_ngram_containment",
    "dedup_simhash",
    "ann_bruteforce_cosine",
    "ann_ivf_cosine",
    # round-4 additions: widest joins (q8 6-way, q21 self-join
    # exists/not-exists), outer-join distribution, corpus bigram LM,
    # sequential funnel
    "q8_market_share",
    "q13_customer_distribution",
    "q21_latest_shippers",
    "bigram_coverage_score",
    "funnel_events",
    # round-4 additions (second batch): training-data prep + window ops
    "pack_training_sequences",
    "dedup_repeated_chunks",
    "shuffle_shards",
    "sliding_window_events",
    "session_window_events",
    # round-4 additions (third batch): bounded-memory top-k, time-series
    # spine, robust outliers
    "heavy_hitters_words",
    "resample_gapfill_events",
    "outliers_iqr_events",
    "bm25_retrieval",
    # round-4 additions (fourth batch): data-selection family
    "dedup_semantic",
    "knn_classify_embeddings",
    "snapshot_diff_events",
    "importance_reweight_documents",
    "hard_negative_mining",
    "ann_bruteforce_gemm",
    # round-4 additions (fifth batch): warehouse/CDC shapes + gates
    "store_changelog_events",
    "scd2_user_state",
    "gopher_quality_gates",
    # round-4 additions (sixth batch): clustering, graph ranking,
    # LM quality gate, skew join, feature prep, time-decay window
    "kmeans_embeddings",
    "pagerank_events",
    "lm_perplexity_documents",
    "salted_skew_join_events",
    "normalize_events_features",
    "ewma_events",
    "fuzzy_match_parts",
    "retrieval_eval_metrics",
    "group_split_documents",
    "curriculum_bins_documents",
    # round-4 additions (seventh batch): sampling/mixture/runtime-filter
    # + quality-gate + sketch rollup
    "weighted_sample_documents",
    "mixture_upsample_documents",
    "bloom_prune_join_orders",
    "hll_distinct_events",
    "data_quality_orders",
    "interleave_mixture_schedule",
    "chisq_lang_source",
    "scd2_point_in_time_join",
    "bpe_zero_merge_stats",
    "text_normalize_documents",
    "length_bucket_batches",
    "recursive_cte_hierarchy",
    "variant_json_events",
    "pseudonymize_events",
    "grouping_sets_orders",
    "range_frame_events",
    "forward_fill_events",
    "sentence_split_udtf",
    "listagg_order_history",
    "source_overlap_matrix",
    "token_accounting_documents",
    # round-6 additions: tick-stream aggregate, graph census, phrase
    # mining, information-theoretic quality, retrieval index stats,
    # cross-doc boilerplate, privacy audit, layout stats, nearest as-of
    "twap_events",
    "collocation_lift_documents",
    "char_entropy_documents",
    "inverted_index_terms",
    "dedup_cross_doc_sentences",
    "k_anonymity_documents",
    "equidepth_histogram_orders",
    "asof_nearest_events",
    # round-6 second wave: skyline, communities, sequence mining,
    # attribution, string-distance dedup
    "pareto_frontier_orders",
    "label_propagation_users",
    "markov_transitions_events",
    "attribution_events",
    "dedup_edit_distance_titles",
    "psi_drift_documents",
    "ngram_novelty_sources",
    "user_saturation_events",
    # round-6 third wave: RFM, Benford, fertility, iterative BFS, HHI
    "rfm_segments_customers",
    "benford_digits_orders",
    "tokenizer_fertility_documents",
    "bfs_reachability_users",
    "hhi_concentration_events",
    # round-6 fourth wave: the distributed exact-rank family
    "percentiles_global_lineitem",
    "gini_user_activity_events",
    "sorted_neighborhood_customers",
    "outliers_mad_events",
    # round-6 waves 5-7: model-eval / drift / privacy / trend shapes
    "auc_lang_quality_documents",
    "calibration_bins_documents",
    "ohlc_bars_events",
    "ks_drift_events",
    "trend_slope_users",
    "cohens_kappa_documents",
    "l_diversity_documents",
    "seasonal_anomaly_events",
    "weighted_median_lineitem",
    "gap_islands_events",
    "wow_change_events",
    "activity_streaks_users",
    "conversion_lag_events",
    "new_vs_returning_events",
    # round-7: multimodal_decode is its family's mapInPandas
    # representative (rule (b) -- the family was previously
    # unbenched).  corpus_clean_pipeline joined HEADLINE this round
    # too, but sits up in the staged-Jaccard window (its near-dup
    # stage consumes the shared edge frame).
    "multimodal_decode",
    # round-7 wave: basket rules, graph clustering coefficient,
    # near-time dedup, per-source dup share, embedding statistics
    # (per-dim + distributed Gram), Z-order layout stats, budget
    # curve, session path mining, bucketed co-located join
    "association_rules_lineitem",
    # staged co-event graph family: producer first, consumers directly
    # after (same contract as the Jaccard family above)
    "co_event_edges_users",
    "triangle_count_users",
    "clustering_coefficient_users",
    "degree_assortativity_users",
    "k_core_peel_users",
    "dedup_near_time_events",
    "duplicate_share_by_source",
    "embedding_dim_stats",
    "embedding_gram_matrix",
    "zorder_layout_lineitem",
    "quality_budget_curve_documents",
    "top_paths_sessions",
    "bucketed_join_lineitem",
    "hybrid_rrf_retrieval",
    "lang_id_confusion",
    # round-7 wave 8: privacy-EMD grid windows, hourly-grid self-join
    # ACF, distributed-rank trimmed mean (join_fanout / interarrival /
    # monotonic are cheap strict subsets of already-timed plan shapes,
    # rule (c); degree_assortativity sits in the co-event staging
    # window above)
    "t_closeness_documents",
    "autocorr_events",
    "trimmed_mean_lineitem",
    # round-8 additions
    "mutual_nn_pairs_embeddings",
    "scan_pruning_audit_lineitem",
    "token_budget_waterfill_sources",
    "boilerplate_prefix_census",
]

# Registry-to-family map backing the HEADLINE selection rule (module
# docstring): first matching pattern wins; the terminal catch-all is
# the generic relational family, so every entry maps somewhere.
FAMILY_PATTERNS: list[tuple[str, str]] = [
    ("pipeline", r"^(corpus_|.*_pipeline$)"),
    ("tpch", r"^q\d+_"),
    ("multimodal", r"^multimodal_"),
    ("dedup", r"^(dedup_|duplicate_share|minhash_candidate)"),
    ("ann-embedding", r"^(ann_|knn_|kmeans_|contrastive_|hard_negative"
                      r"|retrieval_eval|dedup_semantic|embedding_"
                      r"|label_centroid|hybrid_rrf)"),
    ("sketch-approx", r"^(hll_|approx_sketches|bloom_)"),
    ("privacy", r"^(pseudonymize|k_anonymity|l_diversity|t_closeness)"),
    ("graph", r"^(pagerank|triangle_|bfs_|label_propagation"
              r"|clustering_coefficient|co_event_edges"
              r"|degree_assortativity)"),
    ("text", r"^(text_|vocab|term_doc|bigram_|heavy_hitters|sentence_|lang_id"
             r"|bm25|collocation_|char_entropy|inverted_index"
             r"|ngram_novelty|tokenizer_fertility|bpe_|lm_perplexity"
             r"|token_accounting|chunk_documents|decontaminate"
             r"|quality_model|gopher_|doc_length|source_overlap"
             r"|fuzzy_match)"),
    ("sampling-mixture", r"^(stratified_sample|hash_sample"
                         r"|weighted_sample|mixture_|shuffle_shards"
                         r"|group_split|curriculum_|interleave_"
                         r"|importance_reweight|token_budget"
                         r"|pack_training|length_bucket"
                         r"|quality_budget|association_rules)"),
    ("timeseries-session", r"^(ewma_|resample_|moving_avg|outliers_"
                           r"|twap_|ohlc_|seasonal_|gap_islands"
                           r"|activity_streaks|wow_change|asof_"
                           r"|retention_|funnel_|conversion_lag"
                           r"|attribution_|markov_|new_vs_returning"
                           r"|user_saturation|sessionize|forward_fill"
                           r"|snapshot_diff|tumbling_window"
                           r"|sliding_window|session_window"
                           r"|range_frame|interval_join|top_paths"
                           r"|behavioral_entropy|autocorr"
                           r"|interarrival)"),
    ("stats-eval", r"^(profile_|data_quality|chisq_|psi_drift"
                   r"|ks_drift|auc_|calibration_|cohens_kappa"
                   r"|benford_|gini_|hhi_|trend_slope"
                   r"|percentiles_global|equidepth_|weighted_median"
                   r"|rfm_segments|pareto_|monotonic_|trimmed_mean)"),
    ("cdc-warehouse", r"^(scd2_|store_changelog|salted_|sql_text"
                      r"|recursive_cte|variant_json|zorder_"
                      r"|bucketed_join|referential_integrity"
                      r"|join_fanout)"),
    ("near-core", r"^(running_balance|flatmap_legs|json_extract"
                  r"|scalar_functions|dedup_events)"),
    ("relational", r".*"),
]


def family_of(name: str) -> str:
    """Family key for a registry entry (first FAMILY_PATTERNS match)."""
    import re

    for fam, pat in FAMILY_PATTERNS:
        if re.match(pat, name):
            return fam
    return "relational"


def final_line(
    timings: dict[str, float],
    errors: dict[str, str],
    sf: float | str,
    floor_skips: int = 0,
) -> str:
    """The ONE driver-parseable stdout line, built as a pure function so
    tests can pin its size.

    The driver keeps only a bounded tail of stdout (~2 KB) and
    ``json.loads`` the FINAL line; embedding the ~90-entry per-query
    timings dict (~3.3 KB) overflowed that window and lost three
    consecutive rounds of bench numbers (BENCH_r02..r04 "parsed": null).
    Per-query timings, plan fingerprints, stress ratios and full error
    strings all live in the BENCH_PLANS_r{NN}.json side file; this line
    carries compact totals only and must stay well under 500 bytes.
    """
    line = {
        "metric": "headline-suite wall time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "error_count": len(errors),
    }
    # a budget-starved floor pass means some regression adjudications
    # were SKIPPED -- surface the count on the one driver-visible line
    # so it's noticed without opening the side file (round-10 verdict
    # item 6); omitted when zero to keep the line compact
    if floor_skips:
        line["floor_skips"] = floor_skips
    return json.dumps(line, separators=(",", ":"))


def hub_graph_edges(spark, n: int):
    """Deterministic HEAVY-TAILED stress graph on ``n`` nodes (pure
    function of the row id, so a fresh JVM rebuilds it byte-identically
    -- the stress-replay contract).

    Edges, canonical u < v and distinct by construction:
      - chain: (i, i+1) for i in 0..n-2 -- n-1 edges, keeps the graph
        connected and supplies triangle closure;
      - hub: (2^floor(log2 i), i) for i in 2..n-1, skipping i a power
        of two (self-loop) and i = 2^k + 1 (duplicate of the chain
        edge) -- every node links DOWN to its id's leading power of
        two, so hub 2^k collects ~2^k incident edges and max degree
        grows ~n/4 with n while total edges stay ~2n (linear).

    floor(log2 i) is computed integer-exactly as length(bin(i)) - 1
    (no float pow/log near power-of-two boundaries).  Chain edges
    whose endpoints share a hub close triangles, so the triangle count
    is ~n (linear) while the DEGREE distribution is the power-law tail
    the adjacency-intersection plans' orientation gate exists for: at
    id-orientation a degree-D hub replicates its D-element adjacency
    array onto D join rows (O(D^2) shuffled bytes, super-linear in n);
    degree-ordered orientation bounds every out-neighbor array by
    O(sqrt(2m)) (round-12 seam execution, SCALE.md)."""
    from pyspark.sql import functions as SF

    r = spark.range(n)
    chain = r.where(SF.col("id") < n - 1).select(
        SF.col("id").alias("u"), (SF.col("id") + 1).alias("v")
    )
    hub = SF.expr("shiftleft(1L, cast(length(bin(id)) as int) - 1)")
    hubs = (
        r.where(SF.col("id") >= 2)
        .select(hub.alias("u"), SF.col("id").alias("v"))
        .where((SF.col("u") != SF.col("v")) & (SF.col("u") != SF.col("v") - 1))
    )
    return chain.unionAll(hubs)


def build_stress_thunks(spark, n_docs: int, n_vecs: int):
    """Stress corpus + the ordered ``(name, thunk)`` op table.

    Shared by ``main()``'s ``_stress_ops`` and
    ``tools/stress_replay.py`` -- the FRESH-JVM arbiter for stress
    rerun anomalies (round-10 verdict item 3: minhash's in-JVM rerun
    came back 38.3 s against an 11.7 s first reading; the degraded
    long-lived-JVM window is a documented failure mode and only a new
    process measures past it).  ``generate_documents`` /
    ``generate_embeddings`` are deterministic functions of the row id,
    so a fresh process rebuilds the byte-identical corpus and the two
    measurements adjudicate the same computation.

    Returns ``(docs, embs, ops)`` where ops is the list of
    ``(op_name, thunk)`` pairs in suite order.
    """
    from nearscan_kafka_streams_spark.functions.corpus_prep import (
        pack_sequences,
        remove_repeated_chunks,
        shuffle_to_shards,
    )
    from nearscan_kafka_streams_spark.functions.dedup import (
        containment_join,
        jaccard_similarity_join,
        minhash_lsh_candidates,
        winnowed_spans,
    )
    from nearscan_kafka_streams_spark.functions.similarity import (
        brute_force_topk_gemm,
        ivf_topk,
        semantic_dedup,
    )
    from nearscan_kafka_streams_spark.testgen import (
        generate_documents,
        generate_embeddings,
    )
    from nearscan_kafka_streams_spark.functions.clustering import (
        kmeans_fit,
        quantize_vec,
    )
    from nearscan_kafka_streams_spark.functions.decontam import (
        contamination_report,
    )
    from nearscan_kafka_streams_spark.functions.graph import pagerank
    from nearscan_kafka_streams_spark.queries.round7 import (
        clustering_coefficient_users,
    )
    from nearscan_kafka_streams_spark.queries.round5 import (
        triangle_count_users,
    )
    from pyspark.sql import functions as SF

    docs = generate_documents(spark, n_docs)
    embs = generate_embeddings(spark, n_vecs)

    def _kmeans_thunk():
        q = embs.select(
            "vec_id", quantize_vec(SF.col("embedding")).alias("qv")
        )
        init = {
            int(r["vec_id"]): list(r["qv"])
            for r in q.where(SF.col("vec_id") < 16).collect()
        }
        return kmeans_fit(q, init, n_iter=2)[0]

    def _graph_edges():
        # u < v and distinct by construction (v = u + j, 1 <= j <= 64,
        # unique (u, j) per row); edges leaving the id range dropped,
        # a constant 2080-edge deficit at any n
        r = spark.range(n_docs * 64)
        u = SF.expr("id div 64")
        j = (SF.col("id") % 64) + 1
        return (
            r.select(u.alias("u"), (u + j).alias("v"))
            .where(SF.col("v") < n_docs)
        )

    def _pagerank_thunk():
        # synthetic ring + hash-skip graph: 2 edges per node, linear in n
        edges = embs.select(
            SF.col("vec_id").alias("src"),
            ((SF.col("vec_id") + 1) % n_vecs).alias("dst"),
        ).unionByName(
            embs.select(
                SF.col("vec_id").alias("src"),
                ((SF.col("vec_id") * 7 + 3) % n_vecs).alias("dst"),
            )
        )
        return pagerank(edges, n_iter=3)

    ops = [
        ("dedup_minhash_lsh", lambda: minhash_lsh_candidates(docs)),
        (
            # exact AllPairs at t=0.9 (the near-dup verify setting)
            # with prefix_ext="auto": on this bounded-vocab corpus
            # (19,605 grams at every scale) 1-prefix candidates
            # grow quadratically while true pairs stay linear, so
            # auto switches to the k-extended prefix (collision
            # counting) -- see functions/dedup.py and SCALE.md for
            # the measured candidate censuses.  Corpus-scale
            # near-dup at LOW thresholds stays the LSH path above.
            "dedup_ngram_jaccard",
            lambda: jaccard_similarity_join(
                docs,
                threshold=0.9,
                broadcast_verify=True,
                prefix_ext="auto",
            ),
        ),
        (
            # same params as the registered query (t=0.9, 5-grams)
            "dedup_ngram_containment",
            lambda: containment_join(
                docs, threshold=0.9, broadcast_verify=True
            ),
        ),
        (
            "dedup_winnowed_spans",
            lambda: winnowed_spans(docs),
        ),
        (
            "ann_ivf_cosine",
            lambda: ivf_topk(
                embs,
                embs.where(SF.col("vec_id") < 10),
                k=5,
                n_clusters=16,
                n_probe=3,
            ),
        ),
        (
            # cluster count grows with n (n/256 target cell size --
            # the auto_signature_bits discipline) so the
            # within-cluster quadratic term stays bounded
            "dedup_semantic",
            lambda: semantic_dedup(
                embs,
                embs.where(SF.col("vec_id") < max(n_vecs // 256, 8)).select(
                    SF.col("vec_id").alias("cid"),
                    SF.col("embedding").alias("cvec"),
                ),
                tau=0.40,
            ),
        ),
        (
            "ann_bruteforce_gemm",
            lambda: brute_force_topk_gemm(
                embs, embs.where(SF.col("vec_id") < 100), k=5
            ),
        ),
        ("kmeans", _kmeans_thunk),
        ("pagerank", _pagerank_thunk),
        (
            # linear-term stats (docs, tokens) come from the untimed
            # diagnostics pass in main()
            "pack_training_sequences",
            lambda: pack_sequences(docs, 2048),
        ),
        (
            "dedup_repeated_chunks",
            lambda: remove_repeated_chunks(docs, 10),
        ),
        (
            # graph family over a deterministic near-regular graph:
            # node i links to i+1..i+64 (in-range only), so
            # n_nodes = n_docs and n_edges = 64*n_docs - 2080 -- BOTH
            # data terms exactly x10 across the legs at constant
            # degree, the regime the adjacency-intersection re-plan
            # (round 11) is linear in: shuffled frames are the edge
            # list and one O(m) neighbor-array frame, per-edge
            # intersect work is O(degree) = constant
            "triangle_count",
            lambda: triangle_count_users(
                spark, None, edges=_graph_edges()
            ),
        ),
        (
            "clustering_coefficient",
            lambda: clustering_coefficient_users(
                spark, None, edges=_graph_edges()
            ),
        ),
        (
            # the heavy-tail counterpart of the near-regular graph
            # family above: power-law hub graph (max degree ~n/4,
            # edges ~2n -- hub_graph_edges docstring).  orientation=
            # "auto" must route this input to degree-ordering (the
            # round-12 seam: id-orientation shuffles O(dmax^2) bytes
            # per hub, measured super-linear; SCALE.md adjudication)
            # -- the stress ratio here pins that the GATED plan stays
            # linear when max degree grows 8.4x across the 10x legs
            "triangle_hub",
            lambda: triangle_count_users(
                spark, None, edges=hub_graph_edges(spark, n_docs)
            ),
        ),
        ("shuffle_shards", lambda: shuffle_to_shards(docs, 64)),
        (
            # eval set fixed-size (50 docs) while train grows: the
            # production shape -- cost must scale with the TRAIN
            # explode only (eval grams stay a tiny broadcast)
            "decontaminate",
            lambda: contamination_report(
                docs, docs.where(SF.col("doc_id") < 50)
            ),
        ),
    ]
    return docs, embs, ops


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    # round-12 verdict item 2: deriving the side-file round from
    # max(BENCH_r*)+1 made the driver's run overwrite the builder's
    # session-baseline side file (both resolved to the same number),
    # and the 8-core control then skipped numbers so its prev-floor
    # lookup (hard ``round_n - 1``) missed every existing floor.  The
    # round is now env-overridable, the side-file write never clobbers
    # an existing artifact (writes a _<k> sibling instead), and the
    # prev-floor source is the latest existing side file by mtime
    # (env-overridable), never a hard round_n - 1.
    round_env = os.environ.get("SPARK_GRAFT_ROUND", "")
    round_n = int(round_env) if round_env.isdigit() else 1 + max(
        (
            int(f[len("BENCH_r") : -len(".json")])
            for f in os.listdir(repo_dir)
            if f.startswith("BENCH_r") and f.endswith(".json")
            and f[len("BENCH_r") : -len(".json")].isdigit()
        ),
        default=0,
    )

    from nearscan_kafka_streams_spark.queries import QUERIES
    from nearscan_kafka_streams_spark.session import get_spark

    # the bench runs ~50 queries + a 10x-scale stress pass in ONE JVM:
    # an undersized heap silently EVICTS persisted LSH/signature stages
    # mid-job, re-triggering the 64x expression recompute those persists
    # exist to prevent (observed as 9.7s -> 81.7s run-to-run swings).
    # Sized for the bench host; SPARK_DRIVER_MEM still overrides.
    spark = get_spark(
        app_name="nearscan-bench",
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "48g")
        },
    )
    # warm-up: one scan + one shuffle + one noop write so JVM startup,
    # codegen compilation and committer init are not attributed to the
    # first timed queries
    warm = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    warm.groupBy("l_returnflag").count().write.format("noop").mode(
        "overwrite"
    ).save()

    from nearscan_kafka_streams_spark.functions.dedup import release_cached

    from nearscan_kafka_streams_spark.plans.explain import plan_summary

    timings: dict[str, float] = {}
    plans: dict[str, dict] = {}
    errors: dict[str, str] = {}
    # each query is timed as the MIN of REPS fully-independent runs
    # (fresh plan + fresh persists per rep, caches dropped between):
    # the first run carries whole-stage-codegen compilation, Python
    # worker spin-up (pandas-UDF queries), and whatever the multi-tenant
    # bench host is doing that second -- observed 0.9s-vs-31s swings on
    # an UNCHANGED query.  Steady-state latency is the round-comparable
    # number; the same untimed-first-run discipline the flagship
    # topology below has always used.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))

    # Staged Jaccard edge family (round-7): dedup_ngram_jaccard's
    # result IS the Jaccard>=0.8 edge frame the three cluster queries
    # compose over, so a real pipeline stages it once.  The bench
    # mirrors that cost model: the LAST timed rep of
    # dedup_ngram_jaccard persists its output (persist overhead is
    # inside its timing), and the cluster-family queries run over the
    # staged frame via their edges= parameter -- their timings are the
    # INCREMENTAL cost given staged edges, which is what a user
    # computing several cluster reports actually pays.  The edge
    # computation is therefore counted exactly once, in
    # dedup_ngram_jaccard's own number.  HEADLINE places the three
    # consumers immediately after the producer so the clearCache
    # suppression window (staged frame must survive the inter-query
    # cache drop) spans only this family.
    # Two staged families (same mechanism): the producer's RESULT is
    # the frame its consumers compose over, so the producer's last
    # timed rep persists it (persist overhead inside its timing) and
    # each consumer runs over the staged frame via its edges=
    # parameter.  HEADLINE places consumers immediately after their
    # producer so the clearCache suppression window (staged frame must
    # survive the inter-query cache drop) spans only the family.
    STAGED_FAMILIES: dict[str, tuple[str, ...]] = {
        "dedup_ngram_jaccard": (
            "dedup_clusters",
            "dedup_clusters_star",
            "dedup_cluster_census",
            "minhash_candidate_pr_audit",
            "dedup_threshold_sweep",
            "dedup_cluster_source_span",
            "corpus_clean_pipeline",
        ),
        "co_event_edges_users": (
            "triangle_count_users",
            "clustering_coefficient_users",
            "degree_assortativity_users",
            "k_core_peel_users",
        ),
    }
    consumer_to_producer = {
        c: p for p, cs in STAGED_FAMILIES.items() for c in cs
    }
    staged: dict[str, object] = {}  # producer -> persisted frame
    consumers_left = {
        p: sum(1 for n in HEADLINE if n in cs)
        for p, cs in STAGED_FAMILIES.items()
    }

    for name in HEADLINE:
        fn = QUERIES[name]
        # one failing query must not sink the suite: record the error,
        # keep benching, still emit the JSON line (round-2 lesson: a
        # single AnalysisException cost the whole round's numbers)
        best = None
        producer_of = consumer_to_producer.get(name)
        for rep in range(reps):
            t0 = time.perf_counter()
            keep_staged = False
            try:
                # materialize fully, keep results distributed (no driver pull)
                if producer_of is not None and producer_of in staged:
                    df = fn(spark, sf_dir, edges=staged[producer_of])
                else:
                    df = fn(spark, sf_dir)
                if (
                    name in STAGED_FAMILIES
                    and rep == reps - 1
                    and consumers_left[name]
                ):
                    df = df.persist()
                    staged[name] = df
                    keep_staged = True
                df.write.format("noop").mode("overwrite").save()
                elapsed = time.perf_counter() - t0
                if best is None or elapsed < best:
                    best = elapsed
                    # plan fingerprint AFTER the run (plan construction may
                    # persist intermediates the summary would re-trigger)
                    plans[name] = plan_summary(df)
            except Exception as exc:  # noqa: BLE001
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                break
            finally:
                # free any LSH intermediates so later queries (and the next
                # rep) get full memory and recompute from scratch; clearCache
                # additionally drops blocks persist-tracking missed
                # (accumulated storage otherwise evicts later queries' staged
                # frames mid-job -- the recompute they exist to prevent).
                # While any staged frame is alive (producer's last rep
                # through its last consumer), skip clearCache -- it would
                # evict the staged blocks; release_cached still drops the
                # tracked LSH intermediates.
                release_cached()
                if not staged and not keep_staged:
                    spark.catalog.clearCache()
        if best is not None:
            timings[name] = round(best, 3)
        if producer_of is not None and producer_of in staged:
            consumers_left[producer_of] -= 1
            if consumers_left[producer_of] == 0:
                staged[producer_of].unpersist()
                del staged[producer_of]
                if not staged:
                    spark.catalog.clearCache()

    # ---- automatic floor re-runs (round-8 verdict item 3, mechanism
    # not instance): any timed query whose wall regressed >1.5x vs the
    # PREVIOUS round's side file gets up to 3 solo re-runs under a
    # wall budget; the floor is recorded NEXT TO the first reading in
    # ``floors`` but no longer replaces it in ``queries`` (round-9
    # verdict item 3: r09 mixed floors and first readings in one
    # series, so cross-round diffs compared different estimators --
    # ``queries`` is now uniformly the in-suite min-of-reps reading,
    # and tools/diff_bench.py prefers floor-vs-floor when both rounds
    # recorded one).  Staged producers/consumers are excluded: their
    # timings are coupled to the staging window, so a solo re-run
    # would measure a different cost contract.
    floors: dict[str, dict] = {}
    # stress/diag side-file sections are declared here because the
    # streaming-topology block below contributes its own 1x/10x pair
    # before the dedup/ANN battery runs
    stress: dict[str, dict] = {}
    stress_diag: dict[str, dict] = {}
    prev_queries: dict[str, float] = {}
    prev_floors: dict[str, dict] = {}
    try:
        # prev side file = env override, else the latest existing one
        # by mtime (round-12 verdict item 2: a hard ``round_n - 1``
        # lookup missed every floor whenever round numbers skipped)
        prev_p = os.environ.get("SPARK_GRAFT_PREV_PLANS", "")
        if not prev_p:
            cands = [
                os.path.join(repo_dir, f)
                for f in os.listdir(repo_dir)
                if f.startswith("BENCH_PLANS_r") and f.endswith(".json")
            ]
            prev_p = max(cands, key=os.path.getmtime) if cands else ""
        with open(prev_p) as fh:
            _prev = json.load(fh)
        prev_queries = _prev.get("queries", {})
        prev_floors = _prev.get("floors", {})
    except Exception:  # noqa: BLE001
        pass
    staged_names = set(STAGED_FAMILIES) | set(consumer_to_producer)

    def _regression(name: str) -> float:
        prev = prev_queries.get(name) or 0.0
        return timings[name] / prev if prev > 0 else 0.0

    suspects = [
        n
        for n in timings
        if n not in staged_names and _regression(n) > 1.5
    ]
    # worst regressions first under the wall budget
    suspects.sort(key=_regression, reverse=True)
    floor_budget = float(os.environ.get("SPARK_GRAFT_FLOOR_BUDGET", "240"))
    for name in suspects:
        entry: dict = {
            "first": timings[name],
            "prev_round": prev_queries.get(name),
        }
        if floor_budget <= 0:
            entry["skipped"] = "floor budget exhausted"
            floors[name] = entry
            continue
        fn = QUERIES[name]
        best = timings[name]
        runs: list[float] = []
        for _ in range(3):
            if floor_budget <= 0:
                break
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                el = time.perf_counter() - t0
                runs.append(round(el, 3))
                best = min(best, el)
            except Exception as exc:  # noqa: BLE001
                errors[f"floor_{name}"] = f"{type(exc).__name__}: {exc}"[:500]
                break
            finally:
                floor_budget -= time.perf_counter() - t0
                release_cached()
                spark.catalog.clearCache()
        entry["reruns"] = runs
        entry["floor"] = round(best, 3)
        floors[name] = entry

    # ---- staged-FAMILY floor (round 10): staged producers/consumers
    # are excluded from the solo floors above because their cost
    # contract is the staging window -- which also meant a regressed
    # member could never re-run.  Round-10's first bench run recorded
    # dedup_threshold_sweep at 116.5 s (27x) inside a degraded JVM
    # window while a fresh-session replay of the identical staged
    # sequence measured 5.9 s.  When any member regresses >1.5x,
    # re-run the WHOLE family once with the same staging mechanics and
    # record per-member floors (marked family_rerun) -- the re-run
    # preserves the incremental-cost-given-staged-edges contract.
    fam_budget = float(
        os.environ.get("SPARK_GRAFT_FAMILY_FLOOR_BUDGET", "240")
    )
    for prod, cons in STAGED_FAMILIES.items():
        members = [m for m in (prod, *cons) if m in timings]
        regressed = [m for m in members if _regression(m) > 1.5]
        if not regressed:
            continue
        if fam_budget <= 0:
            for m in regressed:
                floors.setdefault(
                    m,
                    {"first": timings[m], "prev_round": prev_queries.get(m)},
                )["skipped"] = "family floor budget exhausted"
            continue
        t_start = time.perf_counter()
        fam_times: dict[str, float] = {}
        st = None
        try:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = QUERIES[prod](spark, sf_dir).persist()
            st = df
            df.write.format("noop").mode("overwrite").save()
            fam_times[prod] = round(time.perf_counter() - t0, 3)
            release_cached()
            for c in cons:
                if c not in timings:
                    continue
                t0 = time.perf_counter()
                QUERIES[c](spark, sf_dir, edges=st).write.format(
                    "noop"
                ).mode("overwrite").save()
                fam_times[c] = round(time.perf_counter() - t0, 3)
                release_cached()
        except Exception as exc:  # noqa: BLE001
            errors[f"family_floor_{prod}"] = (
                f"{type(exc).__name__}: {exc}"[:500]
            )
        finally:
            if st is not None:
                st.unpersist()
            spark.catalog.clearCache()
            fam_budget -= time.perf_counter() - t_start
        for m, t in fam_times.items():
            entry = floors.setdefault(
                m, {"first": timings[m], "prev_round": prev_queries.get(m)}
            )
            entry.setdefault("reruns", []).append(t)
            entry["floor"] = round(min(timings[m], *entry["reruns"]), 3)
            entry["family_rerun"] = True

    # flagship: the reference's own topology end-to-end (dedup -> 3-way
    # join -> JSON flat-map -> balance agg) over generated NEAR-shaped
    # input scaled to the sf (sf0.1 -> 200k receipts + 5% duplicates)
    from nearscan_kafka_streams_spark.pipeline import run_batch
    from nearscan_kafka_streams_spark.testgen import generate_near_tables

    try:
        n_receipts = max(int(2_000_000 * float(sf)), 1000)
        r, o, a = generate_near_tables(spark, n_receipts)
        # one untimed run first: the timed number is steady-state topology
        # latency, not whole-stage-codegen compilation for this plan (which
        # otherwise varies with suite ordering run-to-run)
        run_batch(r, o, a).balances.write.format("noop").mode("overwrite").save()
        t0 = time.perf_counter()
        out = run_batch(r, o, a)
        out.balances.write.format("noop").mode("overwrite").save()
        timings["token_pipeline"] = round(time.perf_counter() - t0, 3)
        # floor pin (round 12): the streaming/flagship legs run LAST
        # in the suite and sit outside the HEADLINE floor loop, so a
        # degraded late-suite host window could land a 2x artifact in
        # the side file with no re-measurement (observed: 7.57 s in
        # the r12 final run vs 3.13 s in a solo fresh-JVM replay
        # minutes later).  Same trigger and recording contract as the
        # near_topology_stream pin: re-run only when no prior floor
        # exists or the first reading regressed >1.5x; the floor goes
        # NEXT TO the first reading in ``floors``, never over it.
        tp_prev = prev_queries.get("token_pipeline") or 0.0
        if "token_pipeline" not in prev_floors or (
            tp_prev > 0 and timings["token_pipeline"] / tp_prev > 1.5
        ):
            # own try/except (round-12 ADVICE): a failure during the
            # OPTIONAL floor re-run must not report the leg itself --
            # whose primary timing is already recorded -- as errored
            try:
                runs = []
                for _ in range(2):
                    t0 = time.perf_counter()
                    run_batch(r, o, a).balances.write.format("noop").mode(
                        "overwrite"
                    ).save()
                    runs.append(round(time.perf_counter() - t0, 3))
                floors["token_pipeline"] = {
                    "first": timings["token_pipeline"],
                    "prev_round": tp_prev or None,
                    "reruns": runs,
                    "floor": round(
                        min([timings["token_pipeline"], *runs]), 3
                    ),
                }
            except Exception as exc:  # noqa: BLE001
                errors["floor_token_pipeline"] = (
                    f"{type(exc).__name__}: {exc}"[:500]
                )
    except Exception as exc:  # noqa: BLE001
        errors["token_pipeline"] = f"{type(exc).__name__}: {exc}"[:500]

    # wire flagship: the SAME topology fed from Confluent-framed Avro
    # record logs through Spark's binaryFile stream source and the Arrow
    # segment decode (sources/pyds.py:read_segments) -- wire bytes in,
    # balance store out (streaming/pipeline.py:run_wire_pipeline).  This
    # is the closest in-sandbox equivalent of the reference's production
    # Kafka workload, so it gets a reference-parity headline number.
    # Staging (generate + distributed Avro-encode via the confluentavro
    # write leg, the data source's only use) is untimed producer work;
    # the timed span is the availableNow run.
    try:
        import json as _json
        import shutil as _shutil
        import tempfile as _tempfile

        from nearscan_kafka_streams_spark.schemas import avro_value_schema
        from nearscan_kafka_streams_spark.sources.pyds import (
            ConfluentAvroDataSource,
        )
        from nearscan_kafka_streams_spark.streaming.pipeline import (
            run_wire_pipeline,
        )

        spark.dataSource.register(ConfluentAvroDataSource)
        n_wire = max(int(200_000 * float(sf)), 2000)
        wr, wo, wa = generate_near_tables(spark, n_wire)
        wire_root = _tempfile.mkdtemp(prefix="bench_wire_")
        try:
            for topic, df in (
                ("receipts", wr),
                ("execution_outcomes", wo),
                ("action_receipt_actions", wa),
            ):
                (
                    df.repartition(8)
                    .write.format("confluentavro")
                    .option("path", f"{wire_root}/logs/{topic}")
                    .option(
                        "avro_schema",
                        _json.dumps(avro_value_schema(topic)),
                    )
                    .mode("append")
                    .save()
                )
            # state-store count per stateful op = shuffle partitions;
            # size to per-partition state volume (thousands at 100 TB,
            # single digits for this replay -- measured 2x wall going
            # 32 -> 8 at bench scale, streaming/pipeline.py
            # _shuffle_override)
            wire_sp = max(4, min(32, n_wire // 2500))
            # same untimed-first-run discipline as token_pipeline: the
            # first execution carries streaming-plan codegen, state-store
            # provider init and committer warm-up (measured 61s-vs-24s
            # run-to-run swings on an UNCHANGED topology); the timed
            # number is steady-state replay latency into a fresh out dir
            run_wire_pipeline(
                spark,
                f"{wire_root}/logs",
                f"{wire_root}/out_warm",
                shuffle_partitions=wire_sp,
            ).write.format("noop").mode("overwrite").save()
            # min of 2 timed replays, same policy as the HEADLINE reps:
            # this leg is the suite's largest single line and its
            # Python-worker + state-store machinery is the noisiest
            # (identical code measured 17.7 s and 52.1 s on this host)
            best = None
            for rep in range(2):
                t0 = time.perf_counter()
                balances = run_wire_pipeline(
                    spark,
                    f"{wire_root}/logs",
                    f"{wire_root}/out{rep}",
                    shuffle_partitions=wire_sp,
                )
                balances.write.format("noop").mode("overwrite").save()
                elapsed = time.perf_counter() - t0
                if best is None or elapsed < best:
                    best = elapsed
            timings["wire_pipeline"] = round(best, 3)
            # floor pin (round 12) -- same contract as the
            # token_pipeline / near_topology_stream pins: these legs
            # run last in the suite with no HEADLINE floor coverage,
            # and the r12 final run recorded a 1.4-2.5x late-window
            # artifact on them (wire 21.0 vs its 13-15 s class)
            wp_prev = prev_queries.get("wire_pipeline") or 0.0
            if "wire_pipeline" not in prev_floors or (
                wp_prev > 0 and timings["wire_pipeline"] / wp_prev > 1.5
            ):
                # own try/except: re-run failure must not error the leg
                try:
                    runs = []
                    for i in range(2):
                        t0 = time.perf_counter()
                        run_wire_pipeline(
                            spark,
                            f"{wire_root}/logs",
                            f"{wire_root}/out_floor{i}",
                            shuffle_partitions=wire_sp,
                        ).write.format("noop").mode("overwrite").save()
                        runs.append(round(time.perf_counter() - t0, 3))
                    floors["wire_pipeline"] = {
                        "first": timings["wire_pipeline"],
                        "prev_round": wp_prev or None,
                        "reruns": runs,
                        "floor": round(
                            min([timings["wire_pipeline"], *runs]), 3
                        ),
                    }
                except Exception as exc:  # noqa: BLE001
                    errors["floor_wire_pipeline"] = (
                        f"{type(exc).__name__}: {exc}"[:500]
                    )

            # all-JVM control: the identical topology from
            # parquet-staged decoded frames (file-stream sources, no
            # Python in the data path) -- wire_pipeline minus this is
            # the Python-decode + custom-source overhead, and this is
            # the migration-target number for the real-cluster
            # kafka+from_avro path (MIGRATION.md)
            from nearscan_kafka_streams_spark.streaming.pipeline import (
                run_parquet_pipeline,
            )

            for topic, df in (
                ("receipts", wr),
                ("execution_outcomes", wo),
                ("action_receipt_actions", wa),
            ):
                df.repartition(8).write.mode("overwrite").parquet(
                    f"{wire_root}/pq/{topic}"
                )
            run_parquet_pipeline(
                spark,
                f"{wire_root}/pq",
                f"{wire_root}/out_pq_warm",
                shuffle_partitions=wire_sp,
            ).write.format("noop").mode("overwrite").save()
            best = None
            for rep in range(2):
                t0 = time.perf_counter()
                balances = run_parquet_pipeline(
                    spark,
                    f"{wire_root}/pq",
                    f"{wire_root}/out_pq{rep}",
                    shuffle_partitions=wire_sp,
                )
                balances.write.format("noop").mode("overwrite").save()
                elapsed = time.perf_counter() - t0
                if best is None or elapsed < best:
                    best = elapsed
            timings["wire_pipeline_jvm"] = round(best, 3)
            # floor pin (round 12): observed 21.5 s late-window
            # reading vs a 7.98 s solo fresh-JVM replay minutes later
            wj_prev = prev_queries.get("wire_pipeline_jvm") or 0.0
            if "wire_pipeline_jvm" not in prev_floors or (
                wj_prev > 0
                and timings["wire_pipeline_jvm"] / wj_prev > 1.5
            ):
                # own try/except: re-run failure must not error the leg
                try:
                    runs = []
                    for i in range(2):
                        t0 = time.perf_counter()
                        run_parquet_pipeline(
                            spark,
                            f"{wire_root}/pq",
                            f"{wire_root}/out_pq_floor{i}",
                            shuffle_partitions=wire_sp,
                        ).write.format("noop").mode("overwrite").save()
                        runs.append(round(time.perf_counter() - t0, 3))
                    floors["wire_pipeline_jvm"] = {
                        "first": timings["wire_pipeline_jvm"],
                        "prev_round": wj_prev or None,
                        "reruns": runs,
                        "floor": round(
                            min([timings["wire_pipeline_jvm"], *runs]), 3
                        ),
                    }
                except Exception as exc:  # noqa: BLE001
                    errors["floor_wire_pipeline_jvm"] = (
                        f"{type(exc).__name__}: {exc}"[:500]
                    )
        finally:
            _shutil.rmtree(wire_root, ignore_errors=True)
    except Exception as exc:  # noqa: BLE001
        errors["wire_pipeline"] = f"{type(exc).__name__}: {exc}"[:500]

    # streaming-topology headline (round-8 verdict optional #8): the
    # full S1 -> U1 -> A1 NEAR topology through availableNow
    # MULTI-micro-batch replay -- maxFilesPerTrigger=1 over 4 files
    # per topic exercises genuine cross-batch streaming state (dedup
    # stores, stream-stream join buffers and the per-batch balance
    # fold into the keyed store), where wire_pipeline runs one
    # batch per replay.  Staging (generate +
    # JSON encode) is untimed producer work; same untimed-first-run +
    # min-of-2 policy as the other streaming legs.
    try:
        import shutil as _shutil
        import tempfile as _tempfile

        from nearscan_kafka_streams_spark.streaming.pipeline import (
            _shuffle_override,
            run_fixture_pipeline,
        )

        n_stream = max(int(200_000 * float(sf)), 2000)
        sr, so, sa = generate_near_tables(spark, n_stream)
        stream_root = _tempfile.mkdtemp(prefix="bench_stream_")
        try:
            # 4 RANGE-partitioned files per topic on the event-time
            # source column: micro-batches then replay in rough event
            # time (the shape a time-ordered Kafka topic feeds), so
            # the watermark advances without dropping a random split's
            # late rows -- verified to reproduce run_batch exactly
            for sub, df, ts in (
                ("receipts", sr, "included_in_block_timestamp"),
                ("outcomes", so, "executed_in_block_timestamp"),
                ("actions", sa, "receipt_included_in_block_timestamp"),
            ):
                df.repartitionByRange(4, ts).write.mode(
                    "overwrite"
                ).json(f"{stream_root}/fx/{sub}")
            stream_sp = max(4, min(32, n_stream // 2500))
            with _shuffle_override(spark, stream_sp):
                run_fixture_pipeline(
                    spark, f"{stream_root}/fx", f"{stream_root}/out_warm",
                ).write.format("noop").mode("overwrite").save()
                best = None
                for rep in range(2):
                    t0 = time.perf_counter()
                    run_fixture_pipeline(
                        spark, f"{stream_root}/fx", f"{stream_root}/out{rep}",
                    ).write.format("noop").mode("overwrite").save()
                    elapsed = time.perf_counter() - t0
                    if best is None or elapsed < best:
                        best = elapsed
            timings["near_topology_stream"] = round(best, 3)
            # pin the suite's largest single line (round-9 verdict
            # item 2): n=1 history and no variance band made the 23.9 s
            # entry dominate cross-round drift arithmetic.  (a) floor:
            # 3 solo re-runs, the same estimator the regression floors
            # use, recorded in ``floors`` (never into ``queries``);
            # (b) a 1x/10x stress pair at FIXED sizes (like the dedup
            # battery) so the side file shows the cost is per-micro-
            # batch state-commit overhead amortizing with volume --
            # expect a ratio well under 10.  Once a floor exists in
            # the prior side file, the ~80 s of solo re-runs only
            # repeat on a >1.5x regression (the same trigger the
            # regular floors use) -- the entry stays pinned without
            # paying the variance-band price every steady round.
            nt_prev = prev_queries.get("near_topology_stream") or 0.0
            nt_first = timings["near_topology_stream"]
            if "near_topology_stream" not in prev_floors or (
                nt_prev > 0 and nt_first / nt_prev > 1.5
            ):
                # own try/except: re-run failure must not error the leg
                try:
                    runs = []
                    with _shuffle_override(spark, stream_sp):
                        for rep in range(3):
                            t0 = time.perf_counter()
                            run_fixture_pipeline(
                                spark,
                                f"{stream_root}/fx",
                                f"{stream_root}/out_floor{rep}",
                            ).write.format("noop").mode(
                                "overwrite"
                            ).save()
                            runs.append(
                                round(time.perf_counter() - t0, 3)
                            )
                    floors["near_topology_stream"] = {
                        "first": nt_first,
                        "prev_round": nt_prev or None,
                        "reruns": runs,
                        "floor": round(min([nt_first, *runs]), 3),
                    }
                except Exception as exc:  # noqa: BLE001
                    errors["floor_near_topology_stream"] = (
                        f"{type(exc).__name__}: {exc}"[:500]
                    )
            st_pair: dict[str, float] = {}
            for leg, n_leg in (("t_1x", 5_000), ("t_10x", 50_000)):
                lr, lo, la = generate_near_tables(spark, n_leg)
                for sub, df, ts in (
                    ("receipts", lr, "included_in_block_timestamp"),
                    ("outcomes", lo, "executed_in_block_timestamp"),
                    ("actions", la, "receipt_included_in_block_timestamp"),
                ):
                    df.repartitionByRange(4, ts).write.mode(
                        "overwrite"
                    ).json(f"{stream_root}/fx_{leg}/{sub}")
                sp_leg = max(4, min(32, n_leg // 2500))
                with _shuffle_override(spark, sp_leg):
                    t0 = time.perf_counter()
                    run_fixture_pipeline(
                        spark,
                        f"{stream_root}/fx_{leg}",
                        f"{stream_root}/out_{leg}",
                    ).write.format("noop").mode("overwrite").save()
                    st_pair[leg] = round(time.perf_counter() - t0, 3)
            stress["near_topology_stream"] = {
                **st_pair,
                "ratio": round(st_pair["t_10x"] / st_pair["t_1x"], 2),
            }
        finally:
            _shutil.rmtree(stream_root, ignore_errors=True)
    except Exception as exc:  # noqa: BLE001
        errors["near_topology_stream"] = f"{type(exc).__name__}: {exc}"[:500]

    # scale stress: the dedup/ANN families on a generated corpus at 1x
    # and 10x the sf0.1 documents/embeddings cardinality, so the side
    # file records a MEASURED scaling factor per family instead of a
    # design argument.  Timings are kept out of the headline total (the
    # suite membership stays comparable round-over-round); the compact
    # line carries only the ratios.
    from nearscan_kafka_streams_spark.functions.corpus_prep import (
        pack_sequences,
    )
    from nearscan_kafka_streams_spark.functions.dedup import (
        containment_join,
        jaccard_similarity_join,
        winnowed_spans,
    )
    from nearscan_kafka_streams_spark.functions.decontam import (
        contamination_report,
    )
    from pyspark.sql import functions as SF

    # candidate-stage counts per stress scale (the super-linear term in
    # exact set similarity is candidate growth, not verify cost -- make
    # it observable next to the timing ratio); keyed "<op>@<n_docs>".
    # (stress_diag itself is declared up by the floors block -- the
    # streaming-topology pin writes into it first.)

    def _stress_ops(
        n_docs: int,
        n_vecs: int,
        only: set | None = None,
        diag: bool = True,
    ) -> dict[str, float]:
        # the corpus and op table live in build_stress_thunks so
        # tools/stress_replay.py times the SAME thunks in a fresh JVM
        docs, embs, ops = build_stress_thunks(spark, n_docs, n_vecs)
        out: dict[str, float] = {}
        # linear-term diagnostics are collected in a SEPARATE UNTIMED
        # pass (round-8 ADVICE: stats_out persists+counts inside the
        # timed window perturbed the very 10x ratios being adjudicated)
        # -- the timed thunks below always run with stats_out=None
        if diag and only is None:
            for diag_name, diag_thunk in (
                (
                    "dedup_ngram_jaccard",
                    lambda s: jaccard_similarity_join(
                        docs,
                        threshold=0.9,
                        broadcast_verify=True,
                        prefix_ext="auto",
                        stats_out=s,
                    ),
                ),
                (
                    # asymmetric predicate: no length-ratio prune, so
                    # candidate growth is governed by rare-gram df --
                    # the census makes that term observable (round-9
                    # verdict item 4)
                    "dedup_ngram_containment",
                    lambda s: containment_join(
                        docs,
                        threshold=0.9,
                        broadcast_verify=True,
                        stats_out=s,
                    ),
                ),
                (
                    # linear by design (~len/window selected spans);
                    # the census verifies the sampling rate held
                    "dedup_winnowed_spans",
                    lambda s: winnowed_spans(docs, stats_out=s),
                ),
                (
                    "pack_training_sequences",
                    lambda s: pack_sequences(docs, 2048, stats_out=s),
                ),
                (
                    "decontaminate",
                    lambda s: contamination_report(
                        docs,
                        docs.where(SF.col("doc_id") < 50),
                        stats_out=s,
                    ),
                ),
            ):
                s: dict = {}
                try:
                    diag_thunk(s).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    stress_diag[f"{diag_name}@{n_docs}"] = s
                except Exception as exc:  # noqa: BLE001
                    errors[f"diag_{diag_name}"] = (
                        f"{type(exc).__name__}: {exc}"[:500]
                    )
                finally:
                    release_cached()
                    spark.catalog.clearCache()
        for op_name, thunk in ops:
            if only is not None and op_name not in only:
                continue
            t0 = time.perf_counter()
            try:
                thunk().write.format("noop").mode("overwrite").save()
                out[op_name] = round(time.perf_counter() - t0, 3)
            except Exception as exc:  # noqa: BLE001
                errors[f"stress_{op_name}"] = f"{type(exc).__name__}: {exc}"[:500]
            finally:
                release_cached()
                spark.catalog.clearCache()
        return out

    try:
        # tiny untimed warm pass: absorbs whole-stage-codegen
        # compilation, Python-worker spin-up and state init for EVERY
        # stress op so the 1x legs measure steady state -- round 8
        # recorded kmeans t_1x 14.4 s > t_10x 8.1 s (an inverted,
        # information-free ratio) because the 1x leg ate cold-start
        _stress_ops(500, 256, diag=False)
        # the two stress scales; the fresh-JVM replay below passes
        # these to tools/stress_replay.py explicitly so a future
        # re-scale cannot silently leave the subprocess measuring a
        # DIFFERENT corpus and flooring a real regression with it
        SMALL_DOCS, SMALL_VECS = 5_000, 2_000
        BIG_DOCS, BIG_VECS = 50_000, 20_000
        small = _stress_ops(SMALL_DOCS, SMALL_VECS)
        big = _stress_ops(BIG_DOCS, BIG_VECS)
        # Artifact screen: a 10x/1x ratio > 5 in this long-lived JVM is
        # as often GC / run-order state as real super-linearity (band-
        # bucket census: minhash candidate pairs grow ~linearly 25k ->
        # 347k for 10x docs, max bucket 65, yet the cold 10x figure has
        # measured 25x; a fresh-JVM run of the same op at 50k docs is
        # ~3x).  Outliers get ONE steady-state re-measurement at 10x
        # (caches released, same thunk); the min is recorded and the
        # first-run figure is preserved in stress_diag so a REAL
        # regression (re-run stays slow, e.g. exact AllPairs candidate
        # growth) is still fully visible.
        slow = [
            op
            for op in big
            if op in small and small[op] > 0 and big[op] / small[op] > 5.0
        ]
        # most-suspicious first (highest first-run ratio), under a wall
        # budget so a noisy round cannot double the bench: each rerun
        # costs that op's steady-state 10x time, and re-confirming a
        # 140 s super-linear family burns budget better spent on the
        # ops whose first figure is most likely artifact
        slow.sort(key=lambda op: big[op] / small[op], reverse=True)
        rerun_budget = float(os.environ.get("SPARK_GRAFT_RERUN_BUDGET", "240"))
        for op in slow:
            if rerun_budget <= 0:
                stress_diag[f"{op}@rerun10x"] = {
                    "t_10x_first": big[op],
                    "t_10x_rerun": None,
                    "skipped": "rerun budget exhausted",
                }
                continue
            t0 = time.perf_counter()
            rerun = _stress_ops(BIG_DOCS, BIG_VECS, only={op})
            rerun_budget -= time.perf_counter() - t0
            stress_diag[f"{op}@rerun10x"] = {
                "t_10x_first": big[op],
                "t_10x_rerun": rerun.get(op),
            }
            if rerun.get(op):
                # an in-JVM rerun that comes back SLOWER than the
                # first reading is the wrong direction for the
                # artifact screen (caches released, same data): the
                # remaining explanation is a degraded long-lived-JVM
                # window, and only a NEW process measures past it
                # (round-10 minhash: first 11.66 s, in-JVM rerun
                # 38.34 s, fresh JVM 10.3 s).  tools/stress_replay.py
                # rebuilds the deterministic corpus and times the
                # identical thunk; its reading floors the recorded
                # figure and is preserved in stress_diag.
                if rerun[op] > big[op] and rerun_budget > 0:
                    import subprocess

                    # Round-12 adjudication of the r11 jaccard firing
                    # (first 22.9 / rerun 29.5 / fresh 61.2 s): the
                    # fresh leg's slow reading was NOT host contention
                    # -- a SOLO replay on an idle host read the same
                    # 62.1/70.7 s -- it was fresh-process JVM warm-up
                    # (heap growth + GC ergonomics churn + first-touch
                    # page faults + C2 compilation) amplified by the
                    # battery's heaviest-shuffle op; with -Xms pinned
                    # and one full-scale untimed warm pass,
                    # stress_replay now reads 19.6/21.3 s, inside the
                    # warmed in-JVM band (SCALE.md round-12).  The
                    # heap cap below is defense-in-depth for the
                    # concurrent case (MemAvailable minus 16 GiB
                    # headroom for the child's Python workers + page
                    # cache, floored at 12g), recorded so the
                    # reading's conditions are auditable.
                    replay_mem_g = 24
                    try:
                        with open("/proc/meminfo") as mfh:
                            for ln in mfh:
                                if ln.startswith("MemAvailable:"):
                                    avail_g = int(ln.split()[1]) // (1 << 20)
                                    replay_mem_g = max(
                                        12, min(48, avail_g - 16)
                                    )
                                    break
                    except Exception:  # noqa: BLE001
                        pass
                    t0 = time.perf_counter()
                    try:
                        proc = subprocess.run(
                            [
                                sys.executable,
                                os.path.join(
                                    repo_dir, "tools", "stress_replay.py"
                                ),
                                "--n-docs",
                                str(BIG_DOCS),
                                "--n-vecs",
                                str(BIG_VECS),
                                op,
                            ],
                            capture_output=True,
                            text=True,
                            # the replay's untimed full-scale warm
                            # pass (its cold-JVM discipline) can alone
                            # take minutes; give a single firing a
                            # realistic window -- the rerun_budget
                            # still bounds the adjudication LOOP
                            timeout=max(rerun_budget, 300),
                            cwd=repo_dir,
                            env={
                                **os.environ,
                                "SPARK_DRIVER_MEM": f"{replay_mem_g}g",
                            },
                        )
                        fresh = json.loads(
                            proc.stdout.strip().splitlines()[-1]
                        )[op]
                        diag = stress_diag[f"{op}@rerun10x"]
                        diag["t_10x_fresh"] = fresh
                        diag["replay_mem_g"] = replay_mem_g
                        # Adjudicate the three-way reading IN the
                        # artifact (round-11 verdict item 1: the
                        # arbiter's first live firing recorded
                        # fresh > first with no verdict and min()
                        # silently kept the first reading):
                        #   - fresh below both in-JVM readings: the
                        #     slow pair was a degraded-JVM artifact
                        #     (the r10 minhash case the arbiter was
                        #     built for); fresh floors the figure.
                        #   - fresh ABOVE both: the replay itself ran
                        #     degraded (host contention with the
                        #     resident parent); the in-JVM minimum
                        #     stands and the disagreement is recorded
                        #     rather than silently min()'d away.
                        #   - in between: no adjudication either way.
                        if fresh < min(big[op], rerun[op]):
                            diag["verdict"] = "fresh_confirms_jvm_artifact"
                        elif fresh > max(big[op], rerun[op]):
                            diag["verdict"] = "arbiter_disagreed"
                        else:
                            diag["verdict"] = "fresh_inconclusive"
                        big[op] = min(big[op], fresh)
                    except Exception as exc:  # noqa: BLE001
                        stress_diag[f"{op}@rerun10x"]["t_10x_fresh"] = None
                        errors[f"fresh_replay_{op}"] = (
                            f"{type(exc).__name__}: {exc}"[:500]
                        )
                    finally:
                        rerun_budget -= time.perf_counter() - t0
                big[op] = min(big[op], rerun[op])
        # inverted legs (1x slower than 10x) are pure measurement
        # noise; re-measure the 1x leg solo and floor it so the
        # recorded ratio carries information (round-8 kmeans).  ANY
        # ratio < 1.0 is inverted by construction on 10x data -- the
        # r9 first run recorded kmeans at 0.82, just past a looser
        # 0.8 trigger -- and the 1x re-measure costs seconds, so the
        # trigger is exactly 1.0
        inverted = [
            op
            for op in small
            if op in big and big[op] > 0 and small[op] / big[op] > 1.0
        ]
        # own budget (round-12 verdict item 9): 1x re-measures cost
        # seconds by construction, but they ran LAST against whatever
        # the 10x adjudications (whose fresh-JVM replays can each eat
        # minutes) left of the shared budget -- the r12 driver run
        # skipped kmeans/pagerank @rerun1x for exactly that reason.
        # Giving the cheap loop its own small budget keeps floor_skips
        # at 0 without letting a noisy round grow the bench unboundedly.
        rerun1x_budget = float(
            os.environ.get("SPARK_GRAFT_RERUN1X_BUDGET", "120")
        )
        for op in inverted:
            if rerun1x_budget <= 0:
                stress_diag[f"{op}@rerun1x"] = {
                    "t_1x_first": small[op],
                    "t_1x_rerun": None,
                    "skipped": "rerun budget exhausted",
                }
                continue
            t0 = time.perf_counter()
            rerun = _stress_ops(SMALL_DOCS, SMALL_VECS, only={op})
            rerun1x_budget -= time.perf_counter() - t0
            stress_diag[f"{op}@rerun1x"] = {
                "t_1x_first": small[op],
                "t_1x_rerun": rerun.get(op),
            }
            if rerun.get(op):
                small[op] = min(small[op], rerun[op])
        # still inverted after the 1x floor?  The op's cost at this
        # scale is fixed per-job overhead (e.g. kmeans: capped fit
        # sample + a fixed iteration count, assignment trivial at both
        # sizes), so the two legs sit in the SAME noise band and their
        # order is a coin flip.  Adjudicate overhead-dominated
        # DIRECTLY: a min-floor on the 10x leg can only LOWER t_10x,
        # so it could never clear an inversion -- the old rerun loop
        # spent budget pushing the recorded ratio further below 1.0
        # while its "if inversion survives both floors" condition was
        # vacuously true (round-9 ADVICE).  Ratio < 1 here reads as
        # parity-within-noise, not a scaling measurement.
        still_inverted = [
            op
            for op in inverted
            if op in big and big[op] > 0 and small[op] / big[op] > 1.0
        ]
        for op in still_inverted:
            stress_diag[f"{op}@overhead_dominated"] = {
                "t_1x_floored": small[op],
                "t_10x": big[op],
                "note": "inversion survived the 1x floor; both legs "
                "sit in the same fixed-overhead noise band",
            }
        for op_name in small:
            if op_name in big and small[op_name] > 0:
                stress[op_name] = {
                    "t_1x": small[op_name],
                    "t_10x": big[op_name],
                    "ratio": round(big[op_name] / small[op_name], 2),
                }
                # reading provenance (round-11 verdict item 6): t_1x /
                # t_10x are post-rerun minima while the reading history
                # lives in stress_diag -- surface HOW MANY readings
                # each leg's figure is the min of, so single-reading
                # vs adjudicated ratios are distinguishable without
                # cross-referencing the two dicts (1 = single reading,
                # omitted for compactness)
                n10 = 1 + sum(
                    1
                    for k2 in ("t_10x_rerun", "t_10x_fresh")
                    if stress_diag.get(f"{op_name}@rerun10x", {}).get(k2)
                    is not None
                )
                n1 = 1 + (
                    1
                    if stress_diag.get(f"{op_name}@rerun1x", {}).get(
                        "t_1x_rerun"
                    )
                    is not None
                    else 0
                )
                if n10 > 1:
                    stress[op_name]["readings_10x"] = n10
                if n1 > 1:
                    stress[op_name]["readings_1x"] = n1
                if (
                    op_name in still_inverted
                    and small[op_name] > big[op_name]
                ):
                    stress[op_name]["overhead_dominated"] = True
    except Exception as exc:  # noqa: BLE001
        errors["scale_stress"] = f"{type(exc).__name__}: {exc}"[:500]

    # Carry the STREAMING-LEG pins' floors forward (round-12 ADVICE):
    # the pins only write a floors entry on trigger rounds, so after a
    # clean round the key vanished from the side file and the next
    # round's ``not in prev_floors`` check re-ran the heavy pipeline
    # blind.  Carried entries are marked and age-bounded: after 3
    # rounds without a fresh reading the pin re-fires and refreshes
    # the floor (staleness bound), so a carried floor can never mask a
    # regression indefinitely.  Only the four pinned legs are carried
    # -- the HEADLINE floors fire on regression, not key absence, so
    # carrying them would only stale-date diff_bench's floor-vs-floor
    # preference.
    for leg in (
        "token_pipeline",
        "wire_pipeline",
        "wire_pipeline_jvm",
        "near_topology_stream",
    ):
        if leg in floors:
            floors[leg].setdefault("age", 0)
        elif leg in prev_floors and leg in timings:
            prev_entry = dict(prev_floors[leg])
            age = int(prev_entry.get("age", 0)) + 1
            if age <= 3:
                prev_entry["age"] = age
                prev_entry["carried"] = True
                floors[leg] = prev_entry

    total = round(sum(timings.values()), 3)

    # plans + per-query timings + stress ratios + full error strings go
    # to a side file; the stdout line carries ONLY compact totals (the
    # driver tail-reads ~2 KB of stdout -- see final_line())
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    side = {
        "queries": timings,
        "plans": plans,
        "errors": errors,
        "scale_stress": stress,
        "stress_diag": stress_diag,
        "floors": floors,
        "sf": sf_val,
        "total_sec": total,
    }
    # never clobber an existing side file (round-12 verdict item 2:
    # the driver's run overwrote the builder's session baseline) --
    # write a _<k> sibling instead; the prev-floor lookup above is
    # mtime-based, so siblings are found next round without renaming
    side_path = os.path.join(repo_dir, f"BENCH_PLANS_r{round_n:02d}.json")
    k = 0
    while os.path.exists(side_path):
        k += 1
        side_path = os.path.join(
            repo_dir, f"BENCH_PLANS_r{round_n:02d}_{k}.json"
        )
    with open(side_path, "w") as fh:
        json.dump(side, fh, indent=1)

    spark.stop()
    # FINAL stdout line, by itself -- the driver tail-parses stdout
    sys.stdout.flush()
    # count BOTH budget-starved adjudication kinds: floor-pass skips
    # (floors) and stress rerun-screen skips (stress_diag "skipped"
    # entries) -- either means a regression reading stands
    # unadjudicated, and the side file should be opened
    # scope the stress side to the ADJUDICATION entries only
    # (@rerun10x/@rerun1x): stress_diag also carries raw stats_out
    # dicts from library census hooks ("<op>@<n_docs>" keys), and a
    # future stats field named "skipped" would otherwise silently
    # inflate this count (round-11 ADVICE)
    n_floor_skips = sum(
        1 for v in floors.values() if "skipped" in v
    ) + sum(
        1
        for k2, v in stress_diag.items()
        if (k2.endswith("@rerun10x") or k2.endswith("@rerun1x"))
        and isinstance(v, dict)
        and "skipped" in v
    )
    print(final_line(timings, errors, sf_val, floor_skips=n_floor_skips))


if __name__ == "__main__":
    main()
