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

One measurement rule: every timed entry is the MIN wall time of REPS
runs (a HEADLINE query's first rep absorbs its warm-up; a topology leg,
run_leg, gets one untimed warm-up run first).  The bench records; it
does not adjudicate.  Regressions are judged across commits by
perfbench/ and by tools/diff_bench.py's plan-shape diff of two side
files.

Headline set -- the selection rule: HEADLINE carries (a) every
end-to-end pipeline, (b) each capability family's most expensive
representative(s) -- the entries whose physical plans exercise that
family's scale-critical path (broadcast join, SMJ, hash agg, window,
explode, higher-order functions, Pandas UDF, iterative joins) -- and
(c) nothing whose plan is a strict cheap subset of an already-timed
sibling (e.g. the fullprobe/fullbucket EXACT variants of benched
approximate ANN ops, or single-operator SQL shapes whose path the
TPC-H series already times).  FAMILY_PATTERNS below maps every
registry entry to a family; tests/test_bench_line.py asserts each
family keeps >=1 HEADLINE member, so a new family cannot silently go
unbenched.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# timed runs per entry, after one untimed run (module docstring)
REPS = 2

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
    "dedup_substring_spans",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    # staged-edge consumers: MUST follow dedup_ngram_jaccard directly
    # (its last rep persists the shared Jaccard>=0.8 edge frame these
    # three compose over; see the staging block in main())
    "dedup_clusters",
    "dedup_clusters_star",
    "dedup_cluster_census",
    # the LSH tuning audit (truth leg) and the threshold sweep
    # consume the same staged edge frame, so they sit inside the
    # staging window
    "minhash_candidate_pr_audit",
    "dedup_threshold_sweep",
    # the mirror-crawl span census consumes the same staged edge
    # frame (CC + one doc_id-keyed source join)
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
    "q8_market_share",
    "q13_customer_distribution",
    "q21_latest_shippers",
    "bigram_coverage_score",
    "funnel_events",
    "pack_training_sequences",
    "dedup_repeated_chunks",
    "shuffle_shards",
    "sliding_window_events",
    "session_window_events",
    "heavy_hitters_words",
    "resample_gapfill_events",
    "outliers_iqr_events",
    "bm25_retrieval",
    "dedup_semantic",
    "knn_classify_embeddings",
    "snapshot_diff_events",
    "importance_reweight_documents",
    "hard_negative_mining",
    "ann_bruteforce_gemm",
    "store_changelog_events",
    "scd2_user_state",
    "gopher_quality_gates",
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
    "twap_events",
    "collocation_lift_documents",
    "char_entropy_documents",
    "inverted_index_terms",
    "dedup_cross_doc_sentences",
    "k_anonymity_documents",
    "equidepth_histogram_orders",
    "asof_nearest_events",
    "pareto_frontier_orders",
    "label_propagation_users",
    "markov_transitions_events",
    "attribution_events",
    "dedup_edit_distance_titles",
    "psi_drift_documents",
    "ngram_novelty_sources",
    "user_saturation_events",
    "rfm_segments_customers",
    "benford_digits_orders",
    "tokenizer_fertility_documents",
    "bfs_reachability_users",
    "hhi_concentration_events",
    "percentiles_global_lineitem",
    "gini_user_activity_events",
    "sorted_neighborhood_customers",
    "outliers_mad_events",
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
    # multimodal_decode is its family's mapInPandas representative
    # (rule (b))
    "multimodal_decode",
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
    # join_fanout / interarrival / monotonic are cheap strict subsets
    # of already-timed plan shapes (rule (c))
    "t_closeness_documents",
    "autocorr_events",
    "trimmed_mean_lineitem",
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
    for fam, pat in FAMILY_PATTERNS:
        if re.match(pat, name):
            return fam
    return "relational"


def final_line(
    timings: dict[str, float],
    errors: dict[str, str],
    sf: float | str,
) -> str:
    """The ONE machine-parseable stdout line (a pure function, so tests
    can pin its size).  The harness running the bench keeps only a
    ~2 KB tail of stdout and ``json.loads`` the FINAL line, so
    per-query timings, plans, stress ratios and error strings live in
    the side file; this line carries compact totals only and must stay
    well under 500 bytes."""
    line = {
        "metric": "headline-suite wall time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "error_count": len(errors),
    }
    return json.dumps(line, separators=(",", ":"))


def hub_graph_edges(spark, n: int):
    """Deterministic HEAVY-TAILED stress graph on ``n`` nodes (a pure
    function of the row id, so every run builds it byte-identically).

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
    O(sqrt(2m)) (SCALE.md)."""
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


# stress ops that report a stats_out census (build_stress_thunks)
CENSUS_OPS = (
    "dedup_ngram_jaccard",
    "dedup_ngram_containment",
    "dedup_winnowed_spans",
    "pack_training_sequences",
    "decontaminate",
)


def build_stress_thunks(spark, n_docs: int, n_vecs: int):
    """Stress corpus + the ordered ``(name, thunk)`` op table that
    ``main()`` times at 1x and 10x.  ``generate_documents`` /
    ``generate_embeddings`` are deterministic functions of the row id,
    so every run times the byte-identical corpus.

    Returns ``(docs, embs, ops)`` where ops is the list of
    ``(op_name, thunk)`` pairs in suite order.  ``thunk()`` builds the
    op's DataFrame; the CENSUS_OPS thunks also take a ``stats_out``
    dict that the op fills with its candidate/linear-term counts.
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
            lambda stats_out=None: jaccard_similarity_join(
                docs,
                threshold=0.9,
                prefix_ext="auto",
                stats_out=stats_out,
            ),
        ),
        (
            # same params as the registered query (t=0.9, 5-grams);
            # asymmetric predicate: no length-ratio prune, so candidate
            # growth is governed by rare-gram df -- the census makes
            # that term observable
            "dedup_ngram_containment",
            lambda stats_out=None: containment_join(
                docs, threshold=0.9, stats_out=stats_out,
            ),
        ),
        (
            # linear by design (~len/window selected spans); the
            # census verifies the sampling rate held
            "dedup_winnowed_spans",
            lambda stats_out=None: winnowed_spans(docs, stats_out=stats_out),
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
            "pack_training_sequences",
            lambda stats_out=None: pack_sequences(
                docs, 2048, stats_out=stats_out
            ),
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
            # is linear in: shuffled frames are the edge
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
            # "auto" must route this input to degree-ordering
            # (id-orientation shuffles O(dmax^2) bytes per hub,
            # measured super-linear; SCALE.md)
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
            lambda stats_out=None: contamination_report(
                docs, docs.where(SF.col("doc_id") < 50), stats_out=stats_out
            ),
        ),
    ]
    return docs, embs, ops


def _drain(df) -> None:
    """Run ``df`` to completion, keeping its rows distributed."""
    df.write.format("noop").mode("overwrite").save()


def _err(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {exc}"[:500]


def stop_session(spark) -> None:
    """``spark.stop()``, but a JVM that already died (say, killed for
    memory in the stress battery) is reported on stderr instead of
    raising, so the final line still prints: every error is already
    in ``errors`` and the side file is written."""
    from py4j.protocol import Py4JError

    try:
        spark.stop()
    except (OSError, Py4JError) as exc:
        print(f"bench: spark.stop() failed, JVM gone: {_err(exc)}",
              file=sys.stderr)


def run_leg(timings: dict, errors: dict, name: str, run) -> None:
    """Time one end-to-end leg by the suite's one rule: ``run("warm")``
    once, untimed (it carries codegen, Python-worker start-up and
    state-store init), then REPS timed ``run(tag)`` calls with fresh
    tags ``"0"``, ``"1"``, ...; the min wall time goes into
    ``timings[name]``.  ``run(tag)`` runs the leg (a streaming leg into
    a fresh output dir named by ``tag``) and drains it into the noop
    sink.  An exception is recorded in
    ``errors[name]`` and leaves ``name`` out of ``timings``."""
    try:
        run("warm")
        walls = []
        for rep in range(REPS):
            t0 = time.perf_counter()
            run(str(rep))
            walls.append(time.perf_counter() - t0)
    except Exception as exc:  # noqa: BLE001
        errors[name] = _err(exc)
        return
    timings[name] = round(min(walls), 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    # side-file round: SPARK_GRAFT_ROUND, else one past the newest
    # BENCH_r<NN>.json next to this script
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

    spark = get_spark(app_name="nearscan-bench")
    # warm-up: one scan + one shuffle + one noop write so JVM startup,
    # codegen compilation and committer init are not attributed to the
    # first timed queries
    warm = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    _drain(warm.groupBy("l_returnflag").count())

    from nearscan_kafka_streams_spark.functions.dedup import release_cached
    from nearscan_kafka_streams_spark.plans.explain import plan_summary

    timings: dict[str, float] = {}
    plans: dict[str, dict] = {}
    errors: dict[str, str] = {}
    # each query is timed as the MIN of REPS fully-independent runs
    # (fresh plan + fresh persists per rep, caches dropped between):
    # the first run carries whole-stage-codegen compilation and Python
    # worker spin-up (pandas-UDF queries), so the min is steady state.

    # Staged families: the producer's RESULT is the frame its consumers
    # compose over, so a real pipeline stages it once.  The producer's
    # last timed rep persists it (persist overhead inside its timing)
    # and each consumer runs over the staged frame via its edges=
    # parameter -- consumer timings are the INCREMENTAL cost given
    # staged edges, and the edge computation is counted exactly once,
    # in the producer's own number.  HEADLINE places consumers
    # immediately after their producer so the clearCache suppression
    # window (staged frame must survive the inter-query cache drop)
    # spans only the family.
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
        # keep benching, still emit the JSON line
        best = None
        producer_of = consumer_to_producer.get(name)
        for rep in range(REPS):
            t0 = time.perf_counter()
            keep_staged = False
            try:
                # run to completion, keep results distributed (no driver pull)
                if producer_of is not None and producer_of in staged:
                    df = fn(spark, sf_dir, edges=staged[producer_of])
                else:
                    df = fn(spark, sf_dir)
                if (
                    name in STAGED_FAMILIES
                    and rep == REPS - 1
                    and consumers_left[name]
                ):
                    df = df.persist()
                    staged[name] = df
                    keep_staged = True
                _drain(df)
                elapsed = time.perf_counter() - t0
                if best is None or elapsed < best:
                    best = elapsed
                    # plan fingerprint AFTER the run (plan construction may
                    # persist intermediates the summary would re-trigger)
                    plans[name] = plan_summary(df)
            except Exception as exc:  # noqa: BLE001
                errors[name] = _err(exc)
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

    # flagship: the reference's own topology end-to-end (dedup -> 3-way
    # join -> JSON flat-map -> balance agg) over generated NEAR-shaped
    # input scaled to the sf (sf0.1 -> 200k receipts + 5% duplicates)
    from nearscan_kafka_streams_spark.pipeline import run_batch
    from nearscan_kafka_streams_spark.testgen import generate_near_tables

    try:
        n_receipts = max(int(2_000_000 * float(sf)), 1000)
        r, o, a = generate_near_tables(spark, n_receipts)
        run_leg(
            timings, errors, "token_pipeline",
            lambda tag: _drain(run_batch(r, o, a).balances),
        )
    except Exception as exc:  # noqa: BLE001
        errors["token_pipeline"] = _err(exc)

    # wire flagship: the SAME topology fed from Confluent-framed Avro
    # record logs through Spark's binaryFile stream source and the Arrow
    # segment decode (sources/pyds.py:read_segments) -- wire bytes in,
    # balance store out (streaming/pipeline.py:run_wire_pipeline).  This
    # is the closest in-sandbox equivalent of the reference's production
    # Kafka workload, so it gets a reference-parity headline number.
    # Staging is untimed producer work; the timed span is the
    # availableNow run into a fresh out dir.
    try:
        from nearscan_kafka_streams_spark.schemas import avro_value_schema
        from nearscan_kafka_streams_spark.sources.pyds import (
            ConfluentAvroDataSource,
        )
        from nearscan_kafka_streams_spark.streaming.pipeline import (
            run_parquet_pipeline,
            run_wire_pipeline,
        )

        spark.dataSource.register(ConfluentAvroDataSource)
        n_wire = max(int(200_000 * float(sf)), 2000)
        wr, wo, wa = generate_near_tables(spark, n_wire)
        wire_root = tempfile.mkdtemp(prefix="bench_wire_")
        try:
            # the wire logs (Avro-encoded through the confluentavro write
            # leg, the data source's only use) and, for the all-JVM
            # control below, the same frames as parquet
            for topic, df in (
                ("receipts", wr),
                ("execution_outcomes", wo),
                ("action_receipt_actions", wa),
            ):
                df = df.repartition(8)
                df.write.format("confluentavro").option(
                    "path", f"{wire_root}/logs/{topic}"
                ).option(
                    "avro_schema", json.dumps(avro_value_schema(topic))
                ).mode("append").save()
                df.write.mode("overwrite").parquet(f"{wire_root}/pq/{topic}")
            # state-store count per stateful op = shuffle partitions;
            # size to per-partition state volume (measured 2x wall going
            # 32 -> 8 at bench scale)
            wire_sp = max(4, min(32, n_wire // 2500))
            run_leg(
                timings, errors, "wire_pipeline",
                lambda tag: _drain(
                    run_wire_pipeline(
                        spark,
                        f"{wire_root}/logs",
                        f"{wire_root}/out_{tag}",
                        shuffle_partitions=wire_sp,
                    )
                ),
            )

            # all-JVM control: the identical topology from
            # parquet-staged decoded frames (file-stream sources, no
            # Python in the data path) -- wire_pipeline minus this is
            # the Python-decode overhead, which a Kafka deployment
            # keeps: its reader runs the same decode (MIGRATION.md)
            run_leg(
                timings, errors, "wire_pipeline_jvm",
                lambda tag: _drain(
                    run_parquet_pipeline(
                        spark,
                        f"{wire_root}/pq",
                        f"{wire_root}/out_pq_{tag}",
                        shuffle_partitions=wire_sp,
                    )
                ),
            )
        finally:
            shutil.rmtree(wire_root, ignore_errors=True)
    except Exception as exc:  # noqa: BLE001
        errors["wire_pipeline"] = _err(exc)

    # side-file sections: stress[op] = {t_1x, t_10x, ratio};
    # stress_diag["<op>@<n_docs>"] = the op's stats_out census
    stress: dict[str, dict] = {}
    stress_diag: dict[str, dict] = {}

    # streaming-topology headline: the full S1 -> U1 -> A1 NEAR
    # topology through availableNow MULTI-micro-batch replay --
    # maxFilesPerTrigger=1 over 4 files per topic exercises genuine
    # cross-batch streaming state (dedup stores, stream-stream join
    # buffers and the per-batch balance fold into the keyed store),
    # where wire_pipeline runs one batch per replay.  Staging (generate
    # + JSON encode) is untimed producer work.
    try:
        from nearscan_kafka_streams_spark.streaming.pipeline import (
            run_fixture_pipeline,
        )

        def _stage_fixture(n: int, fx: str) -> str:
            # 4 RANGE-partitioned files per topic on the event-time
            # source column: micro-batches then replay in rough event
            # time (the shape a time-ordered Kafka topic feeds), so
            # the watermark advances without dropping a random split's
            # late rows -- verified to reproduce run_batch exactly
            sr, so, sa = generate_near_tables(spark, n)
            for sub, df, ts in (
                ("receipts", sr, "included_in_block_timestamp"),
                ("outcomes", so, "executed_in_block_timestamp"),
                ("actions", sa, "receipt_included_in_block_timestamp"),
            ):
                df.repartitionByRange(4, ts).write.mode(
                    "overwrite"
                ).json(f"{fx}/{sub}")
            return fx

        n_stream = max(int(200_000 * float(sf)), 2000)
        stream_root = tempfile.mkdtemp(prefix="bench_stream_")
        try:
            fx = _stage_fixture(n_stream, f"{stream_root}/fx")
            stream_sp = max(4, min(32, n_stream // 2500))
            run_leg(
                timings, errors, "near_topology_stream",
                lambda tag: _drain(
                    run_fixture_pipeline(
                        spark, fx, f"{stream_root}/out_{tag}",
                        shuffle_partitions=stream_sp,
                    )
                ),
            )
            # a 1x/10x pair at FIXED sizes (like the dedup battery) so
            # the side file shows the cost is per-micro-batch
            # state-commit overhead amortizing with volume -- expect a
            # ratio well under 10
            st_pair: dict[str, float] = {}
            for leg, n_leg in (("t_1x", 5_000), ("t_10x", 50_000)):
                fx_leg = _stage_fixture(n_leg, f"{stream_root}/fx_{leg}")
                sp_leg = max(4, min(32, n_leg // 2500))
                t0 = time.perf_counter()
                _drain(
                    run_fixture_pipeline(
                        spark, fx_leg, f"{stream_root}/out_{leg}",
                        shuffle_partitions=sp_leg,
                    )
                )
                st_pair[leg] = round(time.perf_counter() - t0, 3)
            stress["near_topology_stream"] = {
                **st_pair,
                "ratio": round(st_pair["t_10x"] / st_pair["t_1x"], 2),
            }
        finally:
            shutil.rmtree(stream_root, ignore_errors=True)
    except Exception as exc:  # noqa: BLE001
        errors["near_topology_stream"] = _err(exc)

    # scale stress: the dedup/ANN families on a generated corpus at 1x
    # and 10x the sf0.1 documents/embeddings cardinality, so the side
    # file records a MEASURED scaling factor per family instead of a
    # design argument.  Timings are kept out of the headline total (the
    # suite membership stays comparable run over run).
    def _stress_ops(n_docs: int, n_vecs: int, diag: bool = True):
        docs, embs, ops = build_stress_thunks(spark, n_docs, n_vecs)
        out: dict[str, float] = {}
        # candidate-stage counts per stress scale (the super-linear
        # term in exact set similarity is candidate growth, not verify
        # cost), collected in a SEPARATE UNTIMED pass: stats_out
        # persists + counts inside the timed window would perturb the
        # very ratios being measured
        census = [(n, t) for n, t in ops if diag and n in CENSUS_OPS]
        for op_name, thunk in census:
            s: dict = {}
            try:
                _drain(thunk(stats_out=s))
                stress_diag[f"{op_name}@{n_docs}"] = s
            except Exception as exc:  # noqa: BLE001
                errors[f"diag_{op_name}"] = _err(exc)
            finally:
                release_cached()
                spark.catalog.clearCache()
        for op_name, thunk in ops:
            t0 = time.perf_counter()
            try:
                _drain(thunk())
                out[op_name] = round(time.perf_counter() - t0, 3)
            except Exception as exc:  # noqa: BLE001
                errors[f"stress_{op_name}"] = _err(exc)
            finally:
                release_cached()
                spark.catalog.clearCache()
        return out

    try:
        # tiny untimed warm pass: absorbs whole-stage-codegen
        # compilation, Python-worker spin-up and state init for EVERY
        # stress op so the 1x legs measure steady state
        _stress_ops(500, 256, diag=False)
        small = _stress_ops(5_000, 2_000)
        big = _stress_ops(50_000, 20_000)
        for op_name in small:
            if op_name in big and small[op_name] > 0:
                stress[op_name] = {
                    "t_1x": small[op_name],
                    "t_10x": big[op_name],
                    "ratio": round(big[op_name] / small[op_name], 2),
                }
    except Exception as exc:  # noqa: BLE001
        errors["scale_stress"] = _err(exc)

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
        "sf": sf_val,
        "total_sec": total,
    }
    # never clobber an existing side file: write a _<k> sibling instead
    side_path = os.path.join(repo_dir, f"BENCH_PLANS_r{round_n:02d}.json")
    k = 0
    while os.path.exists(side_path):
        k += 1
        side_path = os.path.join(
            repo_dir, f"BENCH_PLANS_r{round_n:02d}_{k}.json"
        )
    with open(side_path, "w") as fh:
        json.dump(side, fh, indent=1)

    stop_session(spark)
    # FINAL stdout line, by itself -- the driver tail-parses stdout
    sys.stdout.flush()
    print(final_line(timings, errors, sf_val))


if __name__ == "__main__":
    main()
