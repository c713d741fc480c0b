"""Length-bucketed batch assembly: padding-efficiency property."""

from __future__ import annotations

from pyspark.sql import functions as F

from nearscan_kafka_streams_spark.queries._base import _t
from nearscan_kafka_streams_spark.queries.corpus_ops import (
    length_bucket_batches,
)


def test_batches_are_dense_and_complete(spark, sf_dir):
    out = length_bucket_batches(spark, sf_dir)
    n_docs = _t(spark, sf_dir, "documents").count()
    assert out.count() == n_docs
    # positions within a batch are dense 0..n-1, batch sizes <= 16
    per_batch = (
        out.groupBy("bucket", "batch_in_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("pos_in_batch").alias("maxp"),
            F.min("pos_in_batch").alias("minp"),
        )
        .collect()
    )
    for r in per_batch:
        assert 1 <= r["n"] <= 16
        assert r["minp"] == 0 and r["maxp"] == r["n"] - 1
    # only the LAST batch of a bucket may be ragged
    by_bucket: dict[int, list] = {}
    for r in per_batch:
        by_bucket.setdefault(r["bucket"], []).append(r)
    for bucket, batches in by_bucket.items():
        batches.sort(key=lambda r: r["batch_in_bucket"])
        for r in batches[:-1]:
            assert r["n"] == 16, (bucket, r)


def test_bucketing_reduces_padding_waste(spark, sf_dir):
    """The operator's reason to exist: padding each batch to its max
    token count must waste less than batching in doc_id order."""
    out = length_bucket_batches(spark, sf_dir)

    def padding_waste(df, batch_cols):
        per = df.groupBy(*batch_cols).agg(
            (
                F.count(F.lit(1)) * F.max("n_tokens") - F.sum("n_tokens")
            ).alias("waste")
        )
        return per.agg(F.sum("waste")).first()[0]

    bucketed_waste = padding_waste(out, ["bucket", "batch_in_bucket"])

    naive = out.select(
        "doc_id", "n_tokens",
        F.expr(
            "(row_number() OVER (ORDER BY doc_id) - 1) div 16"
        ).alias("naive_batch"),
    )
    naive_waste = padding_waste(naive, ["naive_batch"])
    assert bucketed_waste < naive_waste


def test_bucket_window_is_partitioned(spark, sf_dir):
    """The assignment window must be partitioned by bucket -- never a
    single-task global window over the corpus."""
    plan = (
        length_bucket_batches(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "hashpartitioning(bucket" in plan
