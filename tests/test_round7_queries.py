"""Round-7 wave tests: staged-edge equivalence for the Jaccard cluster
family and the decimal cast-before-multiply overflow fixes.

Correctness of full values is pinned by the DuckDB hash oracles
(tools/check_oracle.py / the driver); these tests pin the properties
the oracle can't see -- staged-vs-independent equality and that the
overflow-prone products really are formed in decimal."""

from __future__ import annotations

import pytest

from nearscan_kafka_streams_spark.queries.round6 import dedup_cluster_census
from nearscan_kafka_streams_spark.queries.dedup import (
    dedup_clusters,
    dedup_clusters_star,
    jaccard_edges_frame,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def staged_edges(spark, sf_dir):
    from nearscan_kafka_streams_spark.functions.dedup import release_cached

    edges = jaccard_edges_frame(spark, sf_dir).persist()
    edges.count()
    yield edges
    edges.unpersist()
    release_cached()


def test_dedup_clusters_staged_edges_identical(spark, sf_dir, staged_edges):
    assert _rows(dedup_clusters(spark, sf_dir, edges=staged_edges)) == _rows(
        dedup_clusters(spark, sf_dir)
    )


def test_dedup_clusters_star_staged_edges_identical(
    spark, sf_dir, staged_edges
):
    assert _rows(
        dedup_clusters_star(spark, sf_dir, edges=staged_edges)
    ) == _rows(dedup_clusters_star(spark, sf_dir))


def test_dedup_cluster_census_staged_edges_identical(
    spark, sf_dir, staged_edges
):
    assert _rows(
        dedup_cluster_census(spark, sf_dir, edges=staged_edges)
    ) == _rows(dedup_cluster_census(spark, sf_dir))


def test_staged_edges_skip_allpairs_machinery(spark, sf_dir, staged_edges):
    # the whole point of staging: consumers compose over the handed-in
    # frame and never rebuild the AllPairs self-join.  The final plan
    # can't show this (connected_components truncates lineage via
    # localCheckpoint), but jaccard_similarity_join registers its
    # prefix-index intermediates with _persist_tracked at CONSTRUCTION
    # time -- so the staged path must register strictly fewer frames.
    from nearscan_kafka_streams_spark.functions.dedup import (
        _CACHED,
        release_cached,
    )

    release_cached()
    dedup_clusters(spark, sf_dir)
    n_default = len(_CACHED)
    release_cached()
    dedup_clusters(spark, sf_dir, edges=staged_edges)
    n_staged = len(_CACHED)
    release_cached()
    assert n_staged < n_default, (n_staged, n_default)


def test_trend_slope_products_formed_in_decimal(spark, sf_dir):
    from nearscan_kafka_streams_spark.queries.round6 import trend_slope_users

    plan = (
        trend_slope_users(spark, sf_dir)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    # the qx*qx / qx*qy sums must multiply decimal(38,0) operands --
    # a bare bigint product here is the silent-wrap bug of round 6
    assert "cast(qx#" in plan.replace("CAST", "cast") or "decimal(38,0)" in plan
    assert plan.count("decimal(38,0)") >= 4


def test_auc_and_kappa_carry_decimal(spark, sf_dir):
    from nearscan_kafka_streams_spark.queries.round6 import (
        auc_lang_quality_documents,
        cohens_kappa_documents,
    )

    for q in (auc_lang_quality_documents, cohens_kappa_documents):
        plan = q(spark, sf_dir)._jdf.queryExecution().analyzed().toString()
        assert "decimal(38,0)" in plan, q.__name__


def test_trend_slope_no_int64_wrap_on_long_horizon(spark):
    # synthetic single user with ~1e8-second horizon and enough events
    # that sum(qx*qx) overflows int64 if formed in BIGINT: 2000 events
    # at qx up to 1e8 -> sum qx^2 ~ 6.7e18 > 9.2e18/2... make it
    # decisive: qx up to 2e8 -> sum ~ 2.7e19, well past int64.
    import pyspark.sql.functions as F

    n, span = 2000, 200_000_000
    df = spark.range(n).select(
        F.lit("u1").alias("user_id"),
        F.timestamp_seconds(F.col("id") * (span // n)).alias("ts"),
        (F.col("id") % 97).cast("double").alias("value"),
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        from nearscan_kafka_streams_spark.queries.round6 import (
            trend_slope_users,
        )

        row = trend_slope_users(spark, d).collect()[0]
        # slope of (value cycling mod 97) over a monotone clock is ~0;
        # a wrapped sxx/sxy would produce a wildly wrong magnitude
        assert row.n_events == n
        assert abs(row.slope_micro) < 10_000, row.slope_micro


def test_clean_pipeline_staged_edges_identical(spark, sf_dir, staged_edges):
    # pairwise Jaccard: the full-corpus staged edge frame semi-joined
    # to the pipeline's survivor ids must reproduce the survivor-only
    # AllPairs join bit-for-bit, so the final (doc_id, lang, quality,
    # split) output is identical under either path
    from nearscan_kafka_streams_spark.queries.text import corpus_clean_pipeline

    assert _rows(
        corpus_clean_pipeline(spark, sf_dir, edges=staged_edges)
    ) == _rows(corpus_clean_pipeline(spark, sf_dir))


def test_consumers_leave_staged_cache_alive(spark, sf_dir, staged_edges):
    # bench contract: a consumer given a staged edges= frame must not
    # destroy the caller's cache entry.  Regression for the
    # dedup_threshold_sweep bug where _persist_tracked(edges.select(
    # <all columns>)) CANONICALIZED to the staged frame's own
    # CacheManager entry, so the consumer's release_cached() silently
    # unpersisted the staged frame and every later consumer in the
    # bench staging window recomputed the AllPairs join.
    from nearscan_kafka_streams_spark.functions.dedup import release_cached
    from nearscan_kafka_streams_spark.queries.text import corpus_clean_pipeline
    from nearscan_kafka_streams_spark.queries.round7 import (
        dedup_threshold_sweep,
        minhash_candidate_pr_audit,
    )

    def plan_cached(df):
        cm = spark._jsparkSession.sharedState().cacheManager()
        return cm.lookupCachedData(df._jdf).isDefined()

    assert plan_cached(staged_edges), "fixture must arrive cached"
    for fn in (
        dedup_threshold_sweep,
        minhash_candidate_pr_audit,
        corpus_clean_pipeline,
    ):
        fn(spark, sf_dir, edges=staged_edges).write.format("noop").mode(
            "overwrite"
        ).save()
        release_cached()
        assert plan_cached(staged_edges), (
            f"{fn.__name__} destroyed the caller's staged cache entry"
        )
