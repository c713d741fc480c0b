"""K-Means, LM perplexity, salted join, and normalization tests.

The oracle gate covers sf0.01 hash parity; these tests pin the
SEMANTICS against independent pure-Python/numpy models on controlled
inputs (the strategy SURVEY (S)5 models: engine vs a trivially-correct
reimplementation), plus the operator-specific invariants.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from nearscan_kafka_streams_spark.functions.clustering import (
    _trunc_div,
    assign_clusters,
    kmeans_fit,
    quantize_vec,
    update_centroids,
)
from nearscan_kafka_streams_spark.functions.lm import perplexity_score
from nearscan_kafka_streams_spark.functions.skew import salted_join


# ------------------------------------------------------------------ kmeans
def _np_kmeans(vecs: dict[int, list[int]], init: dict[int, list[int]], n_iter: int):
    """Pure-Python Lloyd's with the engine's exact semantics:
    integer squared-L2, ties to lowest cid, truncating integer
    centroid means, empty clusters keep their centroid."""

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    cents = {c: list(v) for c, v in init.items()}

    def assign():
        out = {}
        for vid, v in vecs.items():
            best = min((d2(v, cv), cid) for cid, cv in cents.items())
            out[vid] = (best[1], best[0])
        return out

    asg = assign()
    for _ in range(n_iter - 1):
        groups: dict[int, list[list[int]]] = {}
        for vid, (cid, _) in asg.items():
            groups.setdefault(cid, []).append(vecs[vid])
        for cid in cents:
            if cid in groups:
                g = groups[cid]
                cents[cid] = [
                    _trunc_div(sum(v[d] for v in g), len(g))
                    for d in range(len(g[0]))
                ]
        asg = assign()
    return asg, cents


def test_trunc_div_matches_engines():
    # Spark `div` and DuckDB `//` truncate toward zero; Python floors.
    assert _trunc_div(7, 2) == 3
    assert _trunc_div(-7, 2) == -3  # Python -7 // 2 == -4
    assert _trunc_div(-6, 2) == -3
    assert _trunc_div(0, 5) == 0


def test_kmeans_matches_pure_python_model(spark):
    # deterministic little dataset with negatives and ties
    vecs = {
        i: [((i * 37 + d * 11) % 19) - 9 for d in range(4)] for i in range(40)
    }
    df = spark.createDataFrame(
        [Row(vec_id=i, qv=v) for i, v in vecs.items()]
    )
    init = {0: vecs[0], 1: vecs[1], 2: vecs[2]}
    got, cents = kmeans_fit(df, init, n_iter=3)
    want, want_cents = _np_kmeans(vecs, init, n_iter=3)
    rows = {r["vec_id"]: (r["cluster_id"], r["d2"]) for r in got.collect()}
    assert rows == want
    assert cents == want_cents


def test_kmeans_inertia_never_increases(spark):
    vecs = {i: [(i * 13 + d * 7) % 23 for d in range(3)] for i in range(60)}
    df = spark.createDataFrame([Row(vec_id=i, qv=v) for i, v in vecs.items()])
    cents = {0: vecs[0], 1: vecs[5], 2: vecs[10], 3: vecs[15]}
    inertias = []
    assigned = assign_clusters(df, cents)
    for _ in range(5):
        inertias.append(assigned.agg(F.sum("d2")).collect()[0][0])
        cents = update_centroids(assigned, cents)
        assigned = assign_clusters(df, cents)
    # exact-mean Lloyd's is monotone; TRUNCATED integer means can
    # wobble by at most one grid cell per dim (this data: 828 -> 840
    # after the big first drop), but the sequence must still (a)
    # improve massively on step 1, (b) never climb back toward the
    # start, and (c) reach a fixed point
    assert inertias[1] < inertias[0] * 0.6
    assert max(inertias[1:]) < inertias[0] * 0.6
    assert inertias[-1] == inertias[-2]


def test_kmeans_empty_cluster_keeps_centroid(spark):
    df = spark.createDataFrame(
        [Row(vec_id=0, qv=[0, 0]), Row(vec_id=1, qv=[1, 1])]
    )
    # centroid 9 is far from everything -> empty after assignment
    cents = {0: [0, 0], 9: [1000, 1000]}
    assigned = assign_clusters(df, cents)
    new = update_centroids(assigned, cents)
    assert new[9] == [1000, 1000]
    assert new[0] == [0, 0]  # trunc mean of (0,0),(1,1) -> (0,0)


def test_quantize_vec_grid(spark):
    # 0.12345 as a double is 0.12345000000000000417 -> *1e4 rounds UP
    df = spark.createDataFrame([Row(v=[0.12345, -0.5, 2.0])])
    out = df.select(quantize_vec(F.col("v")).alias("q")).collect()[0]["q"]
    assert out == [1235, -5000, 20000]
    # float32 column path (the embeddings table's actual type)
    df32 = df.select(F.col("v").cast("array<float>").alias("v"))
    out32 = df32.select(quantize_vec(F.col("v")).alias("q")).collect()[0]["q"]
    assert out32 == [1235, -5000, 20000]


def test_assignment_tie_breaks_to_lowest_cid(spark):
    df = spark.createDataFrame([Row(vec_id=0, qv=[5])])
    # equidistant centroids: |5-0| == |10-5|
    assigned = assign_clusters(df, {7: [0], 3: [10]})
    row = assigned.collect()[0]
    assert row["cluster_id"] == 3 and row["d2"] == 25


def test_kmeans_assignment_plan_is_map_only(spark):
    """The argmin must be a pure projection over the scan: no join, no
    exchange, no python eval -- the property that makes assignment
    free at 100 TB."""
    df = spark.createDataFrame([Row(vec_id=i, qv=[i, i]) for i in range(10)])
    plan = assign_clusters(
        df, {0: [0, 0], 1: [9, 9]}
    )._jdf.queryExecution().executedPlan().toString()
    for bad in ("Join", "Exchange", "Python"):
        assert bad not in plan, f"{bad} in assignment plan:\n{plan}"


# ------------------------------------------------------------------ lm
def test_perplexity_matches_hand_model(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="a a b"),
            Row(doc_id=1, text="b c"),
            Row(doc_id=2, text="   "),  # zero tokens -> dropped
        ]
    )
    out = {
        r["doc_id"]: (r["tokens"], r["avg_nll_micro"])
        for r in perplexity_score(docs).collect()
    }
    # corpus: a:2 b:2 c:1, N=5 V=3 -> p=(c+1)/8
    def lp(c):
        return round(math.log((c + 1) / 8.0) * 1_000_000)

    def trunc_div(s, n):
        q = abs(s) // n
        return -q if s < 0 else q

    nll0 = -trunc_div(lp(2) + lp(2) + lp(2), 3)
    nll1 = -trunc_div(lp(2) + lp(1), 2)
    assert out == {0: (3, nll0), 1: (2, nll1)}


def test_perplexity_orders_gibberish_above_typical(spark):
    common = "the cat sat on the mat " * 5
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=common) for i in range(9)]
        + [Row(doc_id=9, text="zxqv jkwp qqzz mmvv xxyy zzqq")]
    )
    out = {
        r["doc_id"]: r["avg_nll_micro"]
        for r in perplexity_score(docs).collect()
    }
    assert out[9] > max(out[i] for i in range(9))


# ------------------------------------------------------------------ skew
def test_salted_join_equals_plain_join(spark):
    left = spark.createDataFrame(
        [Row(k=i % 3, payload=i) for i in range(100)]
    )
    right = spark.createDataFrame(
        [Row(k=0, tag="x"), Row(k=1, tag="y"), Row(k=5, tag="z")]
    )
    for how in ("inner", "left"):
        got = sorted(
            (r["k"], r["payload"], r["tag"])
            for r in salted_join(left, right, "k", salt_buckets=4, how=how).collect()
        )
        want = sorted(
            (r["k"], r["payload"], r["tag"])
            for r in left.join(right, "k", how).collect()
        )
        assert got == want, how


def test_salted_join_rejects_unsupported_how(spark):
    df = spark.createDataFrame([Row(k=1)])
    with pytest.raises(ValueError):
        salted_join(df, df, "k", how="full_outer")


# ------------------------------------------------------------- normalize
def test_normalize_invariants(spark, sf_dir):
    from nearscan_kafka_streams_spark.queries.corpus_ops import (
        normalize_events_features,
    )

    out = normalize_events_features(spark, sf_dir).toPandas()
    assert ((out["minmax"] >= 0) & (out["minmax"] <= 1)).all()
    # z-scores mean ~0 per group, and winsorized range strictly inside
    # the raw range tails
    g = out.groupby("event_type")
    assert (g["zscore"].mean().abs() < 1e-3).all()
    assert (g["winsorized"].max() <= g["winsorized"].quantile(1.0)).all()
    lo, hi = out["winsorized"].min(), out["winsorized"].max()
    assert lo >= out["winsorized"].quantile(0.0)
    assert hi <= out["winsorized"].quantile(1.0)


def test_kmeans_assignment_runs_under_structured_streaming(spark, tmp_path):
    """The map-only claim, proven the strong way: a pure projection
    needs no state, no watermark, no output-mode restrictions -- the
    SAME assign_clusters expression runs unchanged on a file stream
    (the online-inference / streaming-corpus-bucketing path)."""
    import json

    src = tmp_path / "vecs"
    src.mkdir()
    vecs = {i: [(i * 7 + d * 3) % 11 for d in range(4)] for i in range(20)}
    with open(src / "a.json", "w") as fh:
        for i in range(10):
            fh.write(json.dumps({"vec_id": i, "qv": vecs[i]}) + "\n")
    with open(src / "b.json", "w") as fh:
        for i in range(10, 20):
            fh.write(json.dumps({"vec_id": i, "qv": vecs[i]}) + "\n")

    cents = {0: vecs[0], 1: vecs[3], 2: vecs[9]}
    stream = (
        spark.readStream.schema("vec_id long, qv array<bigint>")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        assign_clusters(stream, cents)
        .writeStream.format("memory")
        .queryName("km_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r["vec_id"]: (r["cluster_id"], r["d2"])
        for r in spark.sql("SELECT * FROM km_stream").collect()
    }

    batch = spark.createDataFrame(
        [Row(vec_id=i, qv=v) for i, v in vecs.items()]
    )
    want = {
        r["vec_id"]: (r["cluster_id"], r["d2"])
        for r in assign_clusters(batch, cents).collect()
    }
    assert got == want
