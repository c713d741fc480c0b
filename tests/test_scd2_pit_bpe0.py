"""SCD2 point-in-time join + BPE zero-merge degenerate oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from nearscan_kafka_streams_spark.queries._base import _t
from nearscan_kafka_streams_spark.queries.corpus_ops import (
    bpe_zero_merge_stats,
    scd2_point_in_time_join,
)


def test_pit_every_click_matches_exactly_one_interval(spark, sf_dir):
    out = scd2_point_in_time_join(spark, sf_dir)
    n_clicks = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .count()
    )
    assert out.count() == n_clicks
    assert out.select("event_id").distinct().count() == n_clicks


def test_pit_resolves_to_own_run(spark, sf_dir):
    """A click event's timestamp falls inside a run of clicks, so the
    state valid at that instant is 'click' -- the self-consistency
    invariant of the dimension + lookup pair."""
    out = scd2_point_in_time_join(spark, sf_dir)
    assert out.where(F.col("state_type") != "click").count() == 0


def test_pit_plan_is_hash_join_not_nested_loop(spark, sf_dir):
    plan = (
        scd2_point_in_time_join(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoop" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_bpe_zero_merges_is_char_segmentation(spark):
    from nearscan_kafka_streams_spark.functions.bpe import bpe_tokenize

    df = spark.createDataFrame(
        [(1, "Hello  world"), (2, "  a  "), (3, "")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in bpe_tokenize(df, merges=[]).collect()}
    assert rows[1]["tokens"] == list("hello") + list("world")
    assert rows[1]["n_tokens"] == 10
    assert rows[2]["tokens"] == ["a"] and rows[2]["n_tokens"] == 1
    assert rows[3]["n_tokens"] == 0


def test_bpe_zero_merge_stats_equals_char_count(spark, sf_dir):
    got = {
        r["doc_id"]: r["n_tokens"]
        for r in bpe_zero_merge_stats(spark, sf_dir).collect()
    }
    want = {
        r["doc_id"]: r["n"]
        for r in _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.length(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s", "")
            ).alias("n"),
        )
        .collect()
    }
    assert got == want
