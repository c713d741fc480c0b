"""Training-data preparation operators: sequence packing (concat-and-
chunk), C4-style repeated-chunk removal, deterministic global shuffle.

Oracle hash-equality runs in the driver gate (queries.py ORACLES);
these tests pin the SEMANTIC invariants the oracle can't express:
tiling/conservation laws for packing, keep-first semantics for chunk
removal, determinism/balance for the shuffle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql.window import Window

from nearscan_kafka_streams_spark.queries.corpus_ops import (
    dedup_repeated_chunks,
    pack_training_sequences,
    shuffle_shards,
)

SEQ_LEN = 512


def test_pack_sequences_conserves_and_tiles(spark, sf_dir):
    frags = pack_training_sequences(spark, sf_dir).cache()
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n_tokens = docs.select(
            F.sum(
                F.when(F.length(F.trim("text")) == 0, 0).otherwise(
                    F.size(F.split(F.trim("text"), r"\s+"))
                )
            )
        ).collect()[0][0]

        # conservation: every token lands in exactly one fragment
        assert frags.agg(F.sum("frag_tokens")).collect()[0][0] == n_tokens

        # tiling: each sequence is exactly SEQ_LEN tokens except the last
        fill = (
            frags.groupBy("seq_id")
            .agg(F.sum("frag_tokens").alias("fill"))
            .orderBy("seq_id")
            .collect()
        )
        assert [r.fill for r in fill[:-1]] == [SEQ_LEN] * (len(fill) - 1)
        assert 0 < fill[-1].fill <= SEQ_LEN
        # seq ids are dense from 0
        assert [r.seq_id for r in fill] == list(range(len(fill)))

        # within a sequence, fragments tile [0, fill) without gaps:
        # sorted frag_starts must equal the running sum of frag_tokens
        bad = (
            frags.withColumn(
                "expected_start",
                F.coalesce(
                    F.sum("frag_tokens").over(
                        Window.partitionBy("seq_id")
                        .orderBy("frag_start")
                        .rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                ),
            )
            .where(F.col("frag_start") != F.col("expected_start"))
            .count()
        )
        assert bad == 0

        # per-doc reassembly: fragments cover [0, doc_n_tokens) in order
        per_doc = (
            frags.groupBy("doc_id")
            .agg(
                F.sum("frag_tokens").alias("tot"),
                F.min("doc_offset").alias("first_off"),
                F.max(F.col("doc_offset") + F.col("frag_tokens")).alias("end"),
            )
            .where(
                (F.col("first_off") != 0) | (F.col("end") != F.col("tot"))
            )
            .count()
        )
        assert per_doc == 0
    finally:
        frags.unpersist()


def test_pack_sequences_spanning_doc_splits(spark, tmp_path):
    # 3 docs of 300 tokens each, L=512: doc 1 spans the seq-0/seq-1
    # boundary and must appear as two fragments with consistent offsets
    rows = [(i, " ".join(f"w{i}_{j}" for j in range(300))) for i in range(3)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    frags = pack_training_sequences(spark, str(tmp_path)).collect()
    by_doc = {}
    for r in frags:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 0: [0,300) of seq 0 -- one fragment
    assert len(by_doc[0]) == 1 and by_doc[0][0].frag_tokens == 300
    # doc 1: [300,512) of seq 0 + [0,88) of seq 1
    d1 = sorted(by_doc[1], key=lambda r: r.seq_id)
    assert [(r.seq_id, r.frag_start, r.frag_tokens, r.doc_offset) for r in d1] == [
        (0, 300, 212, 0),
        (1, 0, 88, 212),
    ]
    # doc 2: [88,388) of seq 1
    assert [(r.seq_id, r.frag_start, r.frag_tokens) for r in by_doc[2]] == [
        (1, 88, 300)
    ]


def test_repeated_chunks_keep_first_semantics(spark, tmp_path):
    # doc 0 and doc 2 share an identical 10-token chunk; doc 1 is clean.
    dup = " ".join(f"d{j}" for j in range(10))
    a_rest = " ".join(f"a{j}" for j in range(10))
    b_rest = " ".join(f"b{j}" for j in range(10))
    rows = [
        (0, dup + " " + a_rest),
        (1, " ".join(f"c{j}" for j in range(10))),
        (2, dup + " " + b_rest),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r.doc_id: r
        for r in dedup_repeated_chunks(spark, str(tmp_path)).collect()
    }
    # first occurrence (doc 0) keeps the chunk, doc 2 loses it
    assert out[0].clean_text == dup + " " + a_rest and out[0].n_dropped == 0
    assert out[1].clean_text == rows[1][1] and out[1].n_dropped == 0
    assert out[2].clean_text == b_rest and out[2].n_dropped == 1


def test_repeated_chunks_all_dropped_doc_survives_empty(spark, tmp_path):
    dup = " ".join(f"x{j}" for j in range(10))
    rows = [(0, dup), (1, dup)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r.doc_id: r
        for r in dedup_repeated_chunks(spark, str(tmp_path)).collect()
    }
    assert out[0].clean_text == dup and out[0].n_dropped == 0
    # the fully-duplicated doc is still a row (empty), not silently lost
    assert out[1].clean_text == "" and out[1].n_dropped == 1


def test_shuffle_shards_deterministic_and_complete(spark, sf_dir):
    a = shuffle_shards(spark, sf_dir).collect()
    b = shuffle_shards(spark, sf_dir).collect()
    assert a == b
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sorted(r.doc_id for r in a) == sorted(
        r.doc_id for r in docs.select("doc_id").collect()
    )
    # positions are dense 1..n within each shard
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard_id, []).append(r.pos)
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
