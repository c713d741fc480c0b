"""Round-7 staging seam for the co-event graph family: handing the
staged edge frame to the triangle census and clustering coefficient
must be results-identical to their independent 2-arg paths (the same
contract test_round7_queries pins for the Jaccard cluster family)."""

from __future__ import annotations

import pytest

from nearscan_kafka_streams_spark.queries.round7 import (
    clustering_coefficient_users,
)
from nearscan_kafka_streams_spark.queries.round5 import (
    co_event_edges_users,
    triangle_count_users,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def staged_co_edges(spark, sf_dir):
    from nearscan_kafka_streams_spark.functions.dedup import release_cached

    edges = co_event_edges_users(spark, sf_dir).persist()
    edges.count()
    yield edges
    edges.unpersist()
    release_cached()


def test_triangle_staged_edges_identical(spark, sf_dir, staged_co_edges):
    assert _rows(triangle_count_users(spark, sf_dir, edges=staged_co_edges)) == _rows(
        triangle_count_users(spark, sf_dir)
    )


def test_clustering_coeff_staged_edges_identical(spark, sf_dir, staged_co_edges):
    assert _rows(
        clustering_coefficient_users(spark, sf_dir, edges=staged_co_edges)
    ) == _rows(clustering_coefficient_users(spark, sf_dir))


def test_threshold_sweep_monotone_and_census_consistent(spark, sf_dir):
    from nearscan_kafka_streams_spark.queries.round6 import (
        dedup_cluster_census,
    )
    from nearscan_kafka_streams_spark.queries.round7 import (
        dedup_threshold_sweep,
    )
    from nearscan_kafka_streams_spark.queries.dedup import jaccard_edges_frame

    rows = dedup_threshold_sweep(spark, sf_dir).collect()
    assert [r["threshold_pct"] for r in rows] == [80, 85, 90, 95]
    for col in ("n_pairs", "n_docs_linked", "n_clusters", "docs_removable"):
        vals = [r[col] for r in rows]
        assert vals == sorted(vals, reverse=True), (col, vals)
    for r in rows:
        assert r["docs_removable"] == r["n_docs_linked"] - r["n_clusters"]
    # the 0.80 point must agree with the independent edge frame and
    # the cluster census (removable = sum over non-singleton clusters)
    assert rows[0]["n_pairs"] == jaccard_edges_frame(spark, sf_dir).count()
    census = dedup_cluster_census(spark, sf_dir).collect()
    assert rows[0]["docs_removable"] == sum(c["docs_removable"] for c in census)


def test_edge_list_is_canonical_and_deduped(spark, sf_dir):
    rows = _rows(co_event_edges_users(spark, sf_dir))
    assert rows, "co-event graph empty at test scale"
    assert all(u < v for u, v in rows)
    assert len(rows) == len(set(rows))


def test_degree_assortativity_staged_edges_identical(
    spark, sf_dir, staged_co_edges
):
    from nearscan_kafka_streams_spark.queries.round7w8 import (
        degree_assortativity_users,
    )

    assert _rows(
        degree_assortativity_users(spark, sf_dir, edges=staged_co_edges)
    ) == _rows(degree_assortativity_users(spark, sf_dir))


def test_degree_assortativity_bounded(spark, sf_dir):
    from nearscan_kafka_streams_spark.queries.round7w8 import (
        degree_assortativity_users,
    )

    rows = degree_assortativity_users(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_edges"] > 0
    # Pearson in ppm lives in [-1e6, 1e6]
    assert -1_000_000 <= r["assortativity_ppm"] <= 1_000_000
