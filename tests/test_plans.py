"""Physical-plan assertions: pushdown, pruning, broadcast (SURVEY (S)4).

These pin the plans we want; a regression (filter no longer reaching
the scan, a dimension falling back to SMJ) fails fast here instead of
showing up as a slow bench run.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from nearscan_kafka_streams_spark.plans import (
    formatted_plan,
    has_broadcast_hash_join,
    observe_counts,
    pushed_filters,
    read_schema_columns,
)
from nearscan_kafka_streams_spark.queries.relational import (
    broadcast_dim_join,
    filter_project_scan,
    q1_pricing_summary,
    q5_local_supplier_volume,
)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = filter_project_scan(spark, sf_dir)
    pf = pushed_filters(df)
    assert any("l_quantity" in f for f in pf), pf
    assert any("l_returnflag" in f for f in pf), pf


def test_column_pruning(spark, sf_dir):
    df = filter_project_scan(spark, sf_dir)
    schemas = read_schema_columns(df)
    assert schemas, "no scans found"
    # lineitem has 11 columns; the 2-column projection + filter columns
    # must prune the scan to exactly what is referenced
    for cols in schemas:
        assert set(cols) <= {"l_orderkey", "l_quantity", "l_returnflag"}, cols


def test_q1_scan_prunes_to_referenced_columns(spark, sf_dir):
    df = q1_pricing_summary(spark, sf_dir)
    for cols in read_schema_columns(df):
        assert "l_partkey" not in cols
        assert "l_suppkey" not in cols


def test_dimensions_broadcast(spark, sf_dir):
    assert has_broadcast_hash_join(broadcast_dim_join(spark, sf_dir))
    assert has_broadcast_hash_join(q5_local_supplier_volume(spark, sf_dir))


def test_no_cartesian_products(spark, sf_dir):
    for q in (q1_pricing_summary, q5_local_supplier_volume, broadcast_dim_join):
        plan = formatted_plan(q(spark, sf_dir))
        assert "CartesianProduct" not in plan, q.__name__


def test_dedup_join_plan_shape(spark, sf_dir, word_corpus):
    """Both exact dedup joins stay equi-join shaped: never a cartesian,
    on the testdata documents (the dense all-pairs plans) or on a
    sparse random-word corpus (the prefix plans).  On the prefix plans
    Spark's size-based broadcast alone -- no hint in the code -- plans
    both verify joins (candidates to each side's hashed gram sets) as
    broadcast hash joins."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        containment_join,
        jaccard_similarity_join,
        release_cached,
    )
    from nearscan_kafka_streams_spark.queries.dedup import (
        dedup_ngram_containment,
        dedup_ngram_jaccard,
    )

    for query in (dedup_ngram_jaccard, dedup_ngram_containment):
        plan = formatted_plan(query(spark, sf_dir))
        release_cached()
        assert "CartesianProduct" not in plan, query.__name__
    for join, threshold, keys in (
        (jaccard_similarity_join, 0.8, ("left_id", "right_id")),
        (containment_join, 0.9, ("inner_id", "outer_id")),
    ):
        stats: dict = {}
        df = join(word_corpus, threshold=threshold, stats_out=stats)
        df.collect()
        # the final adaptive plan, once executed
        plan = formatted_plan(df)
        release_cached()
        assert stats["prefix_ext"] is not None, join.__name__
        assert "CartesianProduct" not in plan, join.__name__
        ops: dict[str, set[str]] = {}
        for op, key in re.findall(
            r"\(\d+\) (\w+Join)[^\n]*\nLeft keys \[1\]: \[(\w+)#", plan
        ):
            ops.setdefault(key, set()).add(op)
        for key in keys:
            assert ops.get(key) == {"BroadcastHashJoin"}, (join.__name__, ops)


def test_observe_counts(spark, sf_dir):
    from nearscan_kafka_streams_spark.queries._base import _t

    df = observe_counts(_t(spark, sf_dir, "region"), "region_rows")
    n = df.count()
    # observation is collected as a side effect of execution
    assert n == 5


def test_single_partition_payload_plan(spark):
    """T3 parity: the transfer sink's global-order mode funnels through
    exactly one partition (TokenBalance.java:275), visible in the plan
    as a single-partition exchange feeding the serializer."""
    from nearscan_kafka_streams_spark.plans.explain import formatted_plan
    from nearscan_kafka_streams_spark.sinks.kafka import topic_payload

    df = spark.createDataFrame([("r1", 1), ("r2", 2)], ["receipt_id", "v"])
    payload = topic_payload(df.repartition(1), "receipt_id")
    assert "SinglePartition" in formatted_plan(payload)
    assert dict(payload.dtypes) == {"key": "string", "value": "string"}


def test_plan_summary_counts(spark, sf_dir):
    """plan_summary (bench fingerprint) counts joins/exchanges/scans."""
    from nearscan_kafka_streams_spark.plans.explain import plan_summary
    from nearscan_kafka_streams_spark.queries.relational import (
        q5_local_supplier_volume,
    )

    s = plan_summary(q5_local_supplier_volume(spark, sf_dir))
    assert s["broadcast_hash_join"] >= 2  # region/nation dims broadcast
    assert s["scans"] >= 5
    assert s["exchanges"] >= 1
    assert s["python_eval"] == 0


def test_new_tpch_queries_plan_shapes(spark, sf_dir):
    """Round-3 TPC-H batch: dimension joins broadcast, never cartesian,
    and q6's predicates reach the scan."""
    from nearscan_kafka_streams_spark.queries.relational import (
        q6_forecast_revenue,
        q7_volume_shipping,
        q10_returned_items,
        q14_promo_revenue,
        q17_small_quantity_revenue,
        q18_large_orders,
        q19_discounted_revenue,
    )

    for q in (
        q7_volume_shipping,
        q10_returned_items,
        q14_promo_revenue,
        q17_small_quantity_revenue,
        q18_large_orders,
        q19_discounted_revenue,
    ):
        plan = formatted_plan(q(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, q.__name__
        assert "CartesianProduct" not in plan, q.__name__

    pushed = " ".join(pushed_filters(q6_forecast_revenue(spark, sf_dir)))
    assert "l_shipdate" in pushed and "l_quantity" in pushed


def test_round4_tpch_queries_plan_shapes(spark, sf_dir):
    """Round-4 TPC-H batch (q2/q8/q9/q11/q13/q16/q20/q21 adaptations):
    no cartesian products anywhere; dimension-filtered joins broadcast;
    q13's outer join keeps zero-order customers (LEFT join survives in
    the plan, not rewritten to inner by the condition)."""
    from nearscan_kafka_streams_spark.queries.relational import (
        q2_min_cost_supplier,
        q8_market_share,
        q9_profit_by_nation,
        q11_important_parts,
        q13_customer_distribution,
        q16_supplier_part_counts,
        q20_dominant_suppliers,
        q21_latest_shippers,
    )

    for q in (
        q2_min_cost_supplier,
        q8_market_share,
        q9_profit_by_nation,
        q11_important_parts,
        q16_supplier_part_counts,
        q20_dominant_suppliers,
        q21_latest_shippers,
    ):
        plan = formatted_plan(q(spark, sf_dir))
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastHashJoin" in plan, q.__name__

    plan13 = formatted_plan(q13_customer_distribution(spark, sf_dir))
    assert "LeftOuter" in plan13 or "left_outer" in plan13.lower()


def test_q15_global_max_not_single_task_window(spark, sf_dir):
    """q15's global max must be a scalar aggregate broadcast back onto
    the per-supplier aggregate -- NOT an unpartitioned window, which
    would sort the whole aggregate in ONE task (fatal at 100x supplier
    cardinality).  Pin: no Window operator at all, and the max joins
    back via broadcast."""
    from nearscan_kafka_streams_spark.queries.relational import (
        q15_top_supplier,
    )

    plan = formatted_plan(q15_top_supplier(spark, sf_dir))
    assert "Window" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_decontamination_broadcast_no_shuffle_of_train_grams(spark, sf_dir):
    """The eval gram table must broadcast: the train side's exploded
    grams never enter an exchange before the contamination join."""
    from nearscan_kafka_streams_spark.queries.corpus_ops import (
        decontaminate_documents,
    )

    plan = formatted_plan(decontaminate_documents(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_parquet_aggregate_pushdown_v2(spark, sf_dir):
    """COUNT/MIN/MAX with no filter can be answered from parquet
    footer metadata -- 100 TB of data, zero row reads.  Needs the V2
    parquet source + aggregatePushdown; pinned here as the recipe."""
    old_v1 = spark.conf.get("spark.sql.sources.useV1SourceList", None)
    try:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        df = spark.read.format("parquet").load(f"{sf_dir}/orders.parquet")
        # min/max push only for types whose parquet stats are usable
        # (numerics; timestamp min/max is not pushed)
        agg = df.groupBy().agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_orderkey").alias("lo"),
            F.max("o_orderkey").alias("hi"),
        )
        plan = formatted_plan(agg)
        assert "PushedAggregation: [COUNT(*)" in plan, plan[:2000]
        # served from metadata AND still correct
        n = agg.collect()[0]["n"]
        assert n == df.count()
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
        if old_v1 is not None:
            spark.conf.set("spark.sql.sources.useV1SourceList", old_v1)
        else:
            spark.conf.unset("spark.sql.sources.useV1SourceList")


def test_grouping_sets_single_pass(spark, sf_dir):
    """GROUPING SETS must compile to ONE scan + Expand + aggregate --
    not a union of three aggregations re-reading the table."""
    from nearscan_kafka_streams_spark.plans.explain import (
        formatted_plan,
        plan_summary,
    )
    from nearscan_kafka_streams_spark.queries.relational import (
        grouping_sets_orders,
    )

    df = grouping_sets_orders(spark, sf_dir)
    plan = formatted_plan(df)
    # one physical source (plan_summary's "scans" counts the tree line
    # AND the numbered detail section, so it reads 2 for one scan)
    assert plan.count("InMemoryFileIndex") == 1, plan_summary(df)
    assert "Expand" in plan


def test_repeated_chunks_no_window_exec(spark, sf_dir):
    """dedup_repeated_chunks must select keepers via partial-aggregable
    min(struct), NOT a chunk-keyed window: a boilerplate chunk repeated
    across a huge corpus would concentrate every occurrence in one
    window-sort partition."""
    from nearscan_kafka_streams_spark.plans.explain import formatted_plan
    from nearscan_kafka_streams_spark.queries.corpus_ops import (
        dedup_repeated_chunks,
    )

    plan = formatted_plan(dedup_repeated_chunks(spark, sf_dir))
    assert "Window" not in plan, plan[:2000]
    assert "partial_min" in plan


def test_round4_new_query_plan_shapes(spark, sf_dir):
    """Late round-4 queries: no cartesian products anywhere; BM25's and
    gap-fill's only nested-loop joins are tiny broadcast cross joins
    (corpus stats / bucket spine); heavy hitters runs exactly ONE
    Python stage (the MG candidate pass)."""
    from nearscan_kafka_streams_spark.plans.explain import plan_summary
    from nearscan_kafka_streams_spark.queries.relational import (
        bm25_retrieval,
        heavy_hitters_words,
        outliers_iqr_events,
        resample_gapfill_events,
    )

    for q in (bm25_retrieval, resample_gapfill_events, outliers_iqr_events):
        plan = formatted_plan(q(spark, sf_dir))
        assert "CartesianProduct" not in plan, q.__name__

    s = plan_summary(heavy_hitters_words(spark, sf_dir))
    # plan_summary counts DISTINCT plan nodes (one per operator)
    assert s["python_eval"] == 1, s
    assert s["nested_loop_join"] == 0, s


def test_selection_family_plan_shapes(spark, sf_dir):
    """Data-selection family: centroid assignment and kNN scoring are
    broadcast-shaped (the corpus never shuffles for scoring), the
    importance weight table joins map-side as a broadcast, nothing
    degenerates to a CartesianProduct, and only the GEMM path runs
    Python (exactly one Arrow stage)."""
    from nearscan_kafka_streams_spark.plans.explain import plan_summary
    from nearscan_kafka_streams_spark.queries.corpus_ops import (
        ann_bruteforce_gemm,
        dedup_semantic,
        hard_negative_mining,
        importance_reweight_documents,
        knn_classify_embeddings,
        snapshot_diff_events,
    )

    for q in (
        dedup_semantic,
        knn_classify_embeddings,
        snapshot_diff_events,
        importance_reweight_documents,
        hard_negative_mining,
    ):
        df = q(spark, sf_dir)
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan, q.__name__
        s = plan_summary(df)
        assert s["python_eval"] == 0, (q.__name__, s)

    # importance: the <=1024-row weight table must broadcast
    assert has_broadcast_hash_join(importance_reweight_documents(spark, sf_dir))
    # kNN: neighbor scoring + label attach + own-label attach are all
    # broadcast joins -- no SortMergeJoin anywhere in the scoring path
    knn_plan = formatted_plan(knn_classify_embeddings(spark, sf_dir))
    assert "BroadcastHashJoin" in knn_plan

    # GEMM: exactly one Python (Arrow) stage; the corpus scan feeds it
    # without a prior exchange (only the tiny candidate stream shuffles)
    s = plan_summary(ann_bruteforce_gemm(spark, sf_dir))
    assert s["python_eval"] == 1, s  # one distinct Arrow stage node
    assert s["nested_loop_join"] == 0, s


def test_sixth_batch_plan_shapes(spark, sf_dir):
    """Clustering / graph / LM / skew / normalize / EWMA batch: all
    JVM-side (zero Python stages), no cartesian products; EWMA's 8
    lags fold into ONE window pass; normalize broadcasts its tiny
    stats aggregate back over the fact scan."""
    from nearscan_kafka_streams_spark.plans.explain import plan_summary
    from nearscan_kafka_streams_spark.queries.corpus_ops import (
        ewma_events,
        kmeans_embeddings,
        lm_perplexity_documents,
        normalize_events_features,
        pagerank_events,
        salted_skew_join_events,
    )

    for q in (
        kmeans_embeddings,
        pagerank_events,
        lm_perplexity_documents,
        salted_skew_join_events,
        normalize_events_features,
        ewma_events,
    ):
        s = plan_summary(q(spark, sf_dir))
        assert s["python_eval"] == 0, (q.__name__, s)
        plan = formatted_plan(q(spark, sf_dir))
        assert "CartesianProduct" not in plan, q.__name__

    # one WindowExec for the whole 8-lag EWMA expression
    ewma_plan = formatted_plan(ewma_events(spark, sf_dir))
    assert ewma_plan.count("Window") <= 3, ewma_plan  # tree + detail refs

    norm_plan = formatted_plan(normalize_events_features(spark, sf_dir))
    assert "BroadcastHashJoin" in norm_plan


def test_plan_summary_stops_at_inmemoryrelation(spark, sf_dir):
    """A consumer of a persisted frame executes zero of the frame's
    build plan, so the fingerprint must not count the build plan's
    exchanges/scans (round-7 adjudication: staged-family fingerprints
    double-counted through InMemoryRelation while measured times
    fell).  The cache reference itself stays visible via the
    in_memory_scans counter."""
    from nearscan_kafka_streams_spark.plans.explain import plan_summary

    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    built = (
        lineitem.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
        .persist()
    )
    try:
        built.count()
        consumer = built.join(
            built.select(
                F.col("l_returnflag").alias("r2"), F.col("s").alias("s2")
            ),
            F.col("l_returnflag") == F.col("r2"),
        )
        s = plan_summary(consumer)
        # the build plan's shuffle + parquet scan must NOT leak in
        assert s["scans"] == 0, s
        assert s["exchanges"] == 0, s
        assert s["in_memory_scans"] > 0, s
    finally:
        built.unpersist()


def test_persist_tracked_never_adopts_foreign_cache(spark, sf_dir):
    """Mechanism contract behind the staged-edges ownership bug: if a
    plan is ALREADY cached (by a caller or an earlier track),
    _persist_tracked must not take ownership, so release_cached() can
    never free a cache entry it did not create."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        _persist_tracked,
        release_cached,
    )

    def plan_cached(df):
        cm = spark._jsparkSession.sharedState().cacheManager()
        return cm.lookupCachedData(df._jdf).isDefined()

    mine = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    try:
        mine.count()
        assert plan_cached(mine)
        # same canonicalized plan, built independently -> must not adopt
        same_plan = (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        handle = _persist_tracked(same_plan)
        handle.count()
        release_cached()
        assert plan_cached(mine), "release_cached freed a foreign cache"
        # a genuinely new plan IS owned and released
        other = _persist_tracked(
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        other.count()
        assert plan_cached(other)
        release_cached()
        assert not plan_cached(other)
    finally:
        mine.unpersist()


def test_plan_summary_strips_cached_lineage_in_subqueries(spark, sf_dir):
    """The Subqueries section re-renders each subquery's tree before
    its detail blocks; a cached frame referenced through a scalar
    subquery embeds its build plan there, and the per-section walk
    (round-8 ADVICE) must drop the build plan's scan/exchange details
    just like it does in the main tree."""
    from nearscan_kafka_streams_spark.plans.explain import plan_summary

    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    built = (
        lineitem.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
        .persist()
    )
    try:
        built.count()
        built.createOrReplaceTempView("subq_cached_stats")
        lineitem.createOrReplaceTempView("subq_lineitem")
        consumer = spark.sql(
            "select l_orderkey from subq_lineitem "
            "where l_quantity > (select max(s) from subq_cached_stats)"
        )
        s = plan_summary(consumer)
        # the main scan counts once; the cached frame's build-plan
        # parquet scan inside the Subqueries section must not leak
        assert s["scans"] == 1, s
        assert s["in_memory_scans"] > 0, s
    finally:
        built.unpersist()
        spark.catalog.dropTempView("subq_cached_stats")
        spark.catalog.dropTempView("subq_lineitem")
