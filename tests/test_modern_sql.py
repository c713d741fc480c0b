"""Spark 4 surfaces: recursive CTEs, VARIANT, keyed pseudonymization."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from nearscan_kafka_streams_spark.queries.corpus_ops import (
    PSEUDO_SECRET,
    pseudonymize_events,
    recursive_cte_hierarchy,
    variant_json_events,
)
from nearscan_kafka_streams_spark.queries._base import _t


def test_recursive_hierarchy_matches_python_model(spark, sf_dir):
    keys = [
        r["c_custkey"]
        for r in _t(spark, sf_dir, "customer").select("c_custkey").collect()
    ]

    want = {}
    for k in keys:
        chain = [k]
        while chain[-1] >= 10:
            chain.append(chain[-1] // 10)
        want[k] = (len(chain) - 1, min(chain))

    got = {
        r["c_custkey"]: (r["chain_depth"], r["root_key"])
        for r in recursive_cte_hierarchy(spark, sf_dir).collect()
    }
    assert got == want


def test_variant_extraction_equals_json_path(spark, sf_dir):
    """VARIANT extraction must agree row-for-row with the string-JSON
    path (get_json_object) -- same data, different representation."""
    e = _t(spark, sf_dir, "events")
    both = e.select(
        F.try_variant_get(F.parse_json(F.col("props")), "$.k", "int")
        .alias("via_variant"),
        F.get_json_object(F.col("props"), "$.k").cast("int")
        .alias("via_string"),
    )
    assert both.where(
        ~F.col("via_variant").eqNullSafe(F.col("via_string"))
    ).count() == 0


def test_pseudonym_tokens_consistent_across_derivations(spark, sf_dir):
    """The token is a pure function of user_id: tokenizing two
    DIFFERENT projections of the same users must produce joinable
    tokens covering exactly the same user set."""
    e = _t(spark, sf_dir, "events")

    def tok(df):
        return df.select(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(PSEUDO_SECRET + ":"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1, 16,
            ).alias("user_token")
        ).distinct()

    a = tok(e.where(F.col("event_type") == "click"))
    b = tok(e)
    # every click user's token resolves in the full token set
    assert a.join(b, "user_token", "left_anti").count() == 0
    # token count == user count (no collisions at this scale)
    assert b.count() == e.select("user_id").distinct().count()


def test_pseudonym_aggregate_preserves_event_counts(spark, sf_dir):
    out = pseudonymize_events(spark, sf_dir)
    e = _t(spark, sf_dir, "events")
    assert out.agg(F.sum("n_events")).first()[0] == e.count()
    assert out.count() == e.select("user_id").distinct().count()


def test_udtf_sentence_split_handcrafted(spark):
    """The corpus fixture is single-sentence; pin the interesting
    cases (multi-sentence, empty segments, nulls) by hand."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, n_words int")
    class SentenceSplit:
        def eval(self, text: str):
            if text is None:
                return
            parts = [p.strip() for p in text.split(". ") if p.strip()]
            for i, p in enumerate(parts):
                yield i, len(p.split(" "))

    spark.udtf.register("sentence_split_t", SentenceSplit)
    spark.createDataFrame(
        [(1, "one two. three.  . four five six"), (2, None), (3, "")],
        ["doc_id", "text"],
    ).createOrReplaceTempView("udtf_t")
    rows = sorted(
        map(
            tuple,
            spark.sql(
                "SELECT d.doc_id, s.sent_idx, s.n_words "
                "FROM udtf_t d, LATERAL sentence_split_t(d.text) s"
            ).collect(),
        )
    )
    # split on '. ' -> ['one two', 'three', ' ', 'four five six'];
    # strip drops the blank: (2w), (1w), (3w).  Null/empty docs emit 0.
    assert rows == [(1, 0, 2), (1, 1, 1), (1, 2, 3)]


def test_variant_survives_parquet_round_trip(spark, tmp_path, sf_dir):
    """VARIANT is a storable column type: parse once at ingest, write
    parquet, and every later reader extracts without re-parsing the
    JSON string -- the lakehouse contract the query relies on."""
    e = _t(spark, sf_dir, "events").limit(200)
    p = str(tmp_path / "variant_pq")
    e.select(
        "event_id", F.parse_json(F.col("props")).alias("props_v")
    ).write.parquet(p)
    back = spark.read.parquet(p)
    assert dict(back.dtypes)["props_v"] == "variant"
    joined = back.join(e, "event_id")
    mismatches = joined.where(
        ~F.try_variant_get(F.col("props_v"), "$.k", "int").eqNullSafe(
            F.get_json_object(F.col("props"), "$.k").cast("int")
        )
    ).count()
    assert mismatches == 0


def test_listagg_deterministic_across_partitionings(spark, sf_dir):
    """The struct-sort-before-concat recipe: identical history strings
    whatever the physical layout (raw collect_list would not be)."""
    from nearscan_kafka_streams_spark.queries.corpus_ops import (
        listagg_order_history,
    )

    a = sorted(map(tuple, listagg_order_history(spark, sf_dir).collect()))
    o = _t(spark, sf_dir, "orders").repartition(13, "o_orderkey")
    o.createOrReplaceTempView("__listagg_alt")
    pairs = F.struct(
        F.col("o_orderdate").alias("d"), F.col("o_orderkey").alias("k")
    )
    b = sorted(
        map(
            tuple,
            o.groupBy("o_custkey")
            .agg(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list(pairs)),
                        lambda s: s["k"].cast("string"),
                    ),
                ).alias("order_history"),
                F.count(F.lit(1)).alias("n_orders"),
            )
            .collect(),
        )
    )
    assert a == b
