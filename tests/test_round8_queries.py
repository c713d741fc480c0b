"""Round-8 wave tests: mutual-NN pairing, k-core peeling, zone-map
pruning audit, and the global-scan determinism regression.

Full-value correctness is pinned by the DuckDB hash oracles; these
pin the properties the oracle can't see."""

from __future__ import annotations

import pytest

from nearscan_kafka_streams_spark.queries.round5 import co_event_edges_users
from nearscan_kafka_streams_spark.queries.round7w8 import (
    k_core_peel_users,
    mutual_nn_pairs_embeddings,
    scan_pruning_audit_lineitem,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_mutual_nn_pairs_are_disjoint(spark, sf_dir):
    # mutuality makes the pair set a partial matching: a vector has
    # ONE top-1 neighbor, so it can appear in at most one mutual pair
    rows = mutual_nn_pairs_embeddings(spark, sf_dir).collect()
    seen = [r[c] for r in rows for c in ("left_id", "right_id")]
    assert len(seen) == len(set(seen))
    assert all(r.left_id < r.right_id for r in rows)


def test_k_core_staged_edges_identical(spark, sf_dir):
    from nearscan_kafka_streams_spark.functions.dedup import release_cached

    edges = co_event_edges_users(spark, sf_dir).persist()
    try:
        edges.count()
        assert _rows(k_core_peel_users(spark, sf_dir, edges=edges)) == _rows(
            k_core_peel_users(spark, sf_dir)
        )
    finally:
        edges.unpersist()
        release_cached()


def test_k_core_monotone_shrink(spark, sf_dir):
    rows = k_core_peel_users(spark, sf_dir).orderBy("round").collect()
    assert len(rows) == 6
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_nodes <= prev.n_nodes
        assert cur.n_edges <= prev.n_edges
        assert cur.k == prev.k
    # the data-dependent k must actually bite at every test scale
    assert rows[0].n_removed > 0


def test_scan_pruning_layout_story(spark, sf_dir):
    # the whole point of the audit: single-column sort prunes its own
    # dimension at least as well as z-order, z-order prunes BOTH
    # dimensions, natural order prunes neither; and every layout
    # partitions the same rows into the same 64 buckets
    out = {
        (r.layout, r.predicate): r
        for r in scan_pruning_audit_lineitem(spark, sf_dir).collect()
    }
    assert len(out) == 6
    assert all(r.n_buckets == 64 for r in out.values())
    assert (
        out[("part_sorted", "part_band")].n_pruned
        >= out[("zorder", "part_band")].n_pruned
        > 0
    )
    assert out[("zorder", "supp_band")].n_pruned > 0
    assert (
        out[("part_sorted", "supp_band")].n_pruned
        <= out[("zorder", "supp_band")].n_pruned
    )


def test_global_row_number_consistent_across_plan_branches(spark, sf_dir):
    # regression for the repartitionByRange double-evaluation hazard:
    # a frame built from global_row_number and referenced in MULTIPLE
    # union legs must see ONE consistent numbering (observed failure:
    # 65 distinct "64-bucket" values and rn past n_total when the
    # offsets branch sampled different range bounds than the join
    # branch)
    import pyspark.sql.functions as F

    from nearscan_kafka_streams_spark.functions.dedup import release_cached
    from nearscan_kafka_streams_spark.functions.scan import global_row_number

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n = li.count()
    ranked = global_row_number(
        li, ["l_orderkey", "l_linenumber"], out_col="rn"
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_distinct("rn").alias("d"),
        F.min("rn").alias("lo"),
        F.max("rn").alias("hi"),
    )
    # two legs referencing the same ranked frame, like the audit does
    both = agg.unionAll(agg).collect()
    release_cached()
    for r in both:
        assert (r.cnt, r.d, r.lo, r.hi) == (n, n, 1, n), r


def test_waterfill_conservation_and_caps(spark, sf_dir):
    import pyspark.sql.functions as F

    from nearscan_kafka_streams_spark.queries.round7w8 import (
        token_budget_waterfill_sources,
    )

    rows = token_budget_waterfill_sources(spark, sf_dir).collect()
    assert rows, "no sources"
    total = sum(r.avail for r in rows)
    budget = total // 2
    spent = sum(r.allocated for r in rows)
    # never over budget, never short by more than one floor-div
    # remainder per unfunded source, never past any source's supply
    assert spent <= budget
    assert budget - spent < len(rows)
    for r in rows:
        assert 0 <= r.allocated <= r.avail
        if r.fully_funded:
            assert r.allocated == r.avail
    # unfunded sources all sit at one waterline
    levels = {r.allocated for r in rows if not r.fully_funded}
    assert len(levels) <= 1


def test_waterfill_scarce_sources_fully_funded(spark, sf_dir):
    # synthetic skew: one tiny source must be funded fully while the
    # giant ones level -- the property that distinguishes water-fill
    # from a flat split
    import tempfile

    import pyspark.sql.functions as F

    from nearscan_kafka_streams_spark.queries.round7w8 import (
        token_budget_waterfill_sources,
    )

    small = spark.range(1).select(
        F.col("id").alias("doc_id"),
        F.lit("tiny doc").alias("text"),
        F.lit("en").alias("lang"),
        F.lit("small_src").alias("source"),
        F.lit(8).alias("n_chars"),
    )
    big = spark.range(2, 102).select(
        F.col("id").alias("doc_id"),
        F.lit(" ".join(["tok"] * 50)).alias("text"),
        F.lit("en").alias("lang"),
        F.concat(F.lit("big"), (F.col("id") % 2).cast("string")).alias(
            "source"
        ),
        F.lit(200).alias("n_chars"),
    )
    with tempfile.TemporaryDirectory() as d:
        small.unionByName(big).write.parquet(f"{d}/documents.parquet")
        out = {
            r.source: r
            for r in token_budget_waterfill_sources(spark, d).collect()
        }
    assert out["small_src"].fully_funded
    assert out["small_src"].allocated == out["small_src"].avail == 2
    assert not out["big0"].fully_funded
    assert out["big0"].allocated == out["big1"].allocated


def test_boilerplate_census_counts(spark, sf_dir):
    from nearscan_kafka_streams_spark.queries.round7w8 import (
        boilerplate_prefix_census,
    )

    rows = boilerplate_prefix_census(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    assert all(r.n_docs >= 2 for r in rows)
    assert all(1 <= r.n_sources <= r.n_docs for r in rows)
    assert all(len(r.prefix.split(" ")) == 8 for r in rows)
    # deterministic ordering: count desc, prefix asc
    ordered = [(-r.n_docs, r.prefix) for r in rows]
    assert ordered == sorted(ordered)


def test_cluster_source_span_staged_and_conservation(spark, sf_dir):
    from nearscan_kafka_streams_spark.functions.dedup import release_cached
    from nearscan_kafka_streams_spark.queries.round7w8 import (
        dedup_cluster_source_span,
    )
    from nearscan_kafka_streams_spark.queries.dedup import (
        dedup_clusters,
        jaccard_edges_frame,
    )

    edges = jaccard_edges_frame(spark, sf_dir).persist()
    try:
        edges.count()
        staged = _rows(dedup_cluster_source_span(spark, sf_dir, edges=edges))
        assert staged == _rows(dedup_cluster_source_span(spark, sf_dir))
        rows = dedup_cluster_source_span(spark, sf_dir, edges=edges).collect()
        # conservation: docs across all span widths == linked docs in
        # the cluster frame; span widths start at 1
        linked = dedup_clusters(spark, sf_dir, edges=edges).count()
        assert sum(r.n_docs for r in rows) == linked
        assert all(r.n_sources >= 1 for r in rows)
        assert all(r.n_clusters >= 1 for r in rows)
    finally:
        edges.unpersist()
        release_cached()
