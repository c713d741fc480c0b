"""PageRank and truncated-EWMA tests: engine vs pure-Python models."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from nearscan_kafka_streams_spark.functions.graph import UNIT, pagerank


def _py_pagerank(edges, n_iter=3, damping_pct=85):
    e = sorted({(s, d) for s, d in edges if s != d})
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    base = UNIT // len(nodes)
    outdeg = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    ranks = {v: base for v in nodes}
    for _ in range(n_iter):
        inflow = {v: 0 for v in nodes}
        for s, d in e:
            inflow[d] += ranks[s] // outdeg[s]
        ranks = {
            v: ((100 - damping_pct) * base + damping_pct * inflow[v]) // 100
            for v in nodes
        }
    return ranks


def test_pagerank_matches_pure_python(spark):
    edges = [(1, 2), (2, 3), (3, 1), (3, 2), (4, 3), (2, 2), (1, 2)]
    df = spark.createDataFrame([Row(src=s, dst=d) for s, d in edges])
    got = {r["node"]: r["rank_fp"] for r in pagerank(df, n_iter=3).collect()}
    assert got == _py_pagerank(edges, n_iter=3)


def test_pagerank_sink_accumulates_hub_drains(spark):
    # star into node 0: 0 should outrank every leaf
    edges = [(i, 0) for i in range(1, 6)] + [(0, 1)]
    df = spark.createDataFrame([Row(src=s, dst=d) for s, d in edges])
    got = {r["node"]: r["rank_fp"] for r in pagerank(df, n_iter=3).collect()}
    assert got[0] > max(got[i] for i in range(1, 6))


def test_pagerank_mass_bounded(spark):
    # dangling leakage means total mass can only shrink from UNIT
    edges = [(1, 2), (2, 3), (3, 4)]  # 4 is dangling
    df = spark.createDataFrame([Row(src=s, dst=d) for s, d in edges])
    total = (
        pagerank(df, n_iter=2).agg(F.sum("rank_fp")).collect()[0][0]
    )
    assert 0 < total <= UNIT


def test_ewma_matches_pandas_model(spark, sf_dir):
    from nearscan_kafka_streams_spark.queries.corpus_ops import ewma_events

    out = ewma_events(spark, sf_dir).toPandas().set_index("event_id")

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", "ts", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    weights = [1 << (7 - j) for j in range(8)]
    for uid, grp in ev.groupby("user_id"):
        qx = [round(v * 10000) for v in grp["value"]]
        for i, eid in enumerate(grp["event_id"]):
            num = den = 0
            for j in range(8):
                if i - j >= 0:
                    num += qx[i - j] * weights[j]
                    den += weights[j]
            want = num / den / 10000.0
            assert abs(out.loc[eid, "ewma_value"] - want) < 1e-9, (uid, eid)


def test_ewma_first_row_equals_value(spark):
    rows = [
        Row(event_id=1, user_id=7, ts=1, value=3.5),
        Row(event_id=2, user_id=7, ts=2, value=1.5),
    ]
    df = spark.createDataFrame(rows)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    qx = F.round(F.col("value") * 10000).cast("bigint")
    num = F.lit(0).cast("bigint")
    den = F.lit(0).cast("bigint")
    for j in range(8):
        lagged = F.lag(qx, j).over(w)
        weight = 1 << (7 - j)
        num = num + F.coalesce(lagged * weight, F.lit(0))
        den = den + F.when(lagged.isNotNull(), F.lit(weight)).otherwise(F.lit(0))
    got = {
        r["event_id"]: r["e"]
        for r in df.select("event_id", (num / den / 10000.0).alias("e")).collect()
    }
    assert got[1] == 3.5  # no history -> the value itself
    # alpha=1/2 blend, computed exactly as the engine does (integer
    # numerator/denominator first -- (416/192) differs in the last ulp)
    assert got[2] == (15000 * 128 + 35000 * 64) / 192 / 10000.0
