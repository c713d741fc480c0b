"""Round-6 registered queries: TWAP, triangle census, collocation
lift, char entropy, inverted index, cross-doc sentence dedup,
k-anonymity, equi-depth histogram, nearest as-of join.

Each test checks a semantic invariant or a Python recomputation on the
sf0.001 corpus (the DuckDB hash oracle covers full-value equality; these
pin the semantics that the oracle shares with the implementation, so a
bug mirrored into both would still be caught here).
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from nearscan_kafka_streams_spark.queries._base import _t
from nearscan_kafka_streams_spark.queries.round5 import (
    asof_nearest_events,
    char_entropy_documents,
    collocation_lift_documents,
    dedup_cross_doc_sentences,
    equidepth_histogram_orders,
    inverted_index_terms,
    k_anonymity_documents,
    triangle_count_users,
    twap_events,
)


def test_twap_matches_python_recompute(spark, sf_dir):
    got = {r["user_id"]: r for r in twap_events(spark, sf_dir).collect()}
    events = (
        _t(spark, sf_dir, "events")
        .select("user_id", "event_id", F.unix_micros("ts").alias("tus"), "value")
        .collect()
    )
    per_user = defaultdict(list)
    for r in events:
        per_user[r["user_id"]].append((r["tus"], r["event_id"], r["value"]))
    checked = 0
    for uid, rows in per_user.items():
        rows.sort(key=lambda t: (t[0], t[1]))
        num = dur = 0
        for (t0, _, v), (t1, _, _) in zip(rows, rows[1:]):
            qv = int(round(v * 1000))
            d = (t1 - t0) // 1_000_000
            num += qv * d
            dur += d
        if dur <= 0:
            assert uid not in got
            continue
        assert got[uid]["twap_milli"] == int(num / dur)  # both non-negative
        assert got[uid]["dur_total_s"] == dur
        checked += 1
    assert checked > 0 and len(got) == checked


def test_triangle_count_matches_python_recompute(spark, sf_dir):
    row = triangle_count_users(spark, sf_dir).collect()[0]
    b = (
        _t(spark, sf_dir, "events")
        .select("user_id", "event_type", F.date_trunc("hour", "ts").alias("bh"))
        .distinct()
        .collect()
    )
    buckets = defaultdict(set)
    for r in b:
        buckets[(r["event_type"], r["bh"])].add(r["user_id"])
    pair_count = Counter()
    for members in buckets.values():
        if len(members) > 1000:  # bucket_cap mirror
            continue
        ms = sorted(members)
        for i, u in enumerate(ms):
            for v in ms[i + 1 :]:
                pair_count[(u, v)] += 1
    edges = {p for p, c in pair_count.items() if c >= 2}
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
    tris = sum(
        1
        for u, v in edges
        for w in adj[v]
        if w in adj[u]
    )
    nodes = {x for e in edges for x in e}
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (
        len(nodes),
        len(edges),
        tris,
    )


def test_triangle_count_stress_graph_matches_bruteforce(spark):
    # the bench stress leg's synthetic near-regular graph (bench.py
    # build_stress_thunks::_graph_edges at d=64): node i -> i+1..i+64
    # in-range.  Pins the adjacency-intersection formulation (and the
    # stress leg's data terms) against a pure-Python recompute on a
    # 200-node instance
    n, d = 200, 64
    edges_py = {
        (i, i + j) for i in range(n) for j in range(1, d + 1) if i + j < n
    }
    # fully independent oracle (round-11 ADVICE): enumerate ALL
    # C(200,3) ~ 1.3M vertex triples and test undirected membership
    # of the three sides -- shares NO orientation/out-neighbor
    # reasoning with the adjacency-intersection implementation (the
    # old recompute used the same per-edge common-out-neighbor
    # formula, so a shared conceptual error would have passed both)
    from itertools import combinations

    tris = sum(
        1
        for a, b, c in combinations(range(n), 3)
        if (a, b) in edges_py and (b, c) in edges_py and (a, c) in edges_py
    )
    edges_df = (
        spark.range(n * d)
        .select(
            F.expr(f"id div {d}").alias("u"),
            (F.expr(f"id div {d}") + (F.col("id") % d) + 1).alias("v"),
        )
        .where(F.col("v") < n)
    )
    row = triangle_count_users(spark, None, edges=edges_df).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (
        n,
        len(edges_py),
        tris,
    )
    assert len(edges_py) == d * n - d * (d + 1) // 2


def test_triangle_bucket_cap_drops_flash_crowd(spark, tmp_path):
    # 1100 users in ONE (type, hour) bucket exceed bucket_cap=1000: with
    # the guard the pair stage emits nothing; without it, ~600k pairs
    sf = tmp_path / "sf_flash"
    sf.mkdir()
    spark.createDataFrame(
        [(i, i, "click", "2024-01-01 10:00:00") for i in range(1100)],
        "event_id long, user_id long, event_type string, ts_s string",
    ).select(
        "event_id", "user_id", "event_type", F.col("ts_s").cast("timestamp").alias("ts")
    ).write.parquet(str(sf / "events.parquet"))
    row = triangle_count_users(spark, str(sf)).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (0, 0, 0)


def test_collocation_lift_support_and_order(spark, sf_dir):
    rows = collocation_lift_documents(spark, sf_dir).collect()
    assert 0 < len(rows) <= 50
    lifts = [r["lift_ppm"] for r in rows]
    assert lifts == sorted(lifts, reverse=True)
    assert all(r["c_xy"] >= 5 for r in rows)
    # lift is count-exact: recompute one row from raw tokens
    import re

    docs = _t(spark, sf_dir, "documents").select("text").collect()
    uni = Counter()
    big = Counter()
    n = 0
    for d in docs:
        toks = [t for t in re.split(r"[^a-z0-9]+", d["text"].lower()) if t]
        if len(toks) < 2:
            continue
        uni.update(toks)
        n += len(toks)
        big.update(zip(toks, toks[1:]))
    r0 = rows[0]
    c_xy = big[(r0["w1"], r0["w2"])]
    assert c_xy == r0["c_xy"]
    expect = (c_xy * n * 1_000_000) // (uni[r0["w1"]] * uni[r0["w2"]])
    assert r0["lift_ppm"] == expect


def test_char_entropy_bounds_and_empty_doc_guard(spark, sf_dir, tmp_path):
    rows = char_entropy_documents(spark, sf_dir).collect()
    docs = {r["doc_id"]: r["text"] for r in _t(spark, sf_dir, "documents").collect()}
    assert len(rows) == sum(1 for t in docs.values() if len(t) > 0)
    for r in rows[:20]:
        text = docs[r["doc_id"]]
        assert r["n_chars_counted"] == len(text)
        # 0 <= H <= ln(alphabet size); micro-nat quantization adds < 1
        # per class, bounded by distinct char count
        k = len(set(text))
        assert -k <= r["entropy_micronat"] <= int(1e6 * math.log(max(k, 2))) + k
    # zero-length text must be absent in BOTH engines (sequence(1,0)
    # phantom-row cliff): exercise via a synthetic corpus
    sf = tmp_path / "sf_empty"
    sf.mkdir()
    spark.createDataFrame(
        [(1, ""), (2, "abab")], "doc_id long, text string"
    ).write.parquet(str(sf / "documents.parquet"))
    out = {r["doc_id"]: r for r in char_entropy_documents(spark, str(sf)).collect()}
    assert set(out) == {2}
    assert out[2]["n_chars_counted"] == 4
    # quantization is PER CLASS (then integer-summed): 'a' and 'b'
    # each contribute round(1e6 * 0.5 * ln 2) = 346574
    assert out[2]["entropy_micronat"] == 2 * int(round(1e6 * 0.5 * math.log(2)))


def test_inverted_index_python_recompute(spark, sf_dir):
    import re

    rows = inverted_index_terms(spark, sf_dir).collect()
    assert 0 < len(rows) <= 100
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").collect()
    df = Counter()
    cf = Counter()
    max_tf = Counter()
    for d in docs:
        toks = [t for t in re.split(r"[^a-z0-9]+", d["text"].lower()) if t]
        tf = Counter(toks)
        for t, c in tf.items():
            df[t] += 1
            cf[t] += c
            max_tf[t] = max(max_tf[t], c)
    for r in rows:
        t = r["term"]
        assert (r["df"], r["cf"], r["max_tf"]) == (df[t], cf[t], max_tf[t])
    dfs = [r["df"] for r in rows]
    assert dfs == sorted(dfs, reverse=True)


def test_cross_doc_sentences_invariants(spark, sf_dir):
    rows = dedup_cross_doc_sentences(spark, sf_dir).collect()
    n_docs = _t(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs  # every doc has >= 1 non-empty sentence here
    assert all(0 <= r["n_removed"] <= r["n_sentences"] for r in rows)
    # boilerplate is a cross-doc property: recompute one doc
    sents_rows = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", "\\.")).alias("raw"))
        .select("doc_id", F.trim(F.lower("raw")).alias("s"))
        .where(F.col("s") != "")
        .collect()
    )
    docs_per = defaultdict(set)
    for r in sents_rows:
        docs_per[r["s"]].add(r["doc_id"])
    d0 = rows[0]["doc_id"]
    mine = [r["s"] for r in sents_rows if r["doc_id"] == d0]
    removed = sum(1 for s in mine if len(docs_per[s]) > 3)
    assert (rows[0]["n_sentences"], rows[0]["n_removed"]) == (len(mine), removed)


def test_k_anonymity_classes(spark, sf_dir):
    rows = k_anonymity_documents(spark, sf_dir).collect()
    docs = _t(spark, sf_dir, "documents").collect()
    classes = Counter(
        (d["lang"], d["source"], d["n_chars"] // 100) for d in docs
    )
    assert len(rows) == len(classes)
    for r in rows:
        size = classes[(r["lang"], r["source"], r["len_bucket"])]
        assert r["class_size"] == size
        assert r["k_anonymous"] == (size >= 10)
    assert sum(r["class_size"] for r in rows) == len(docs)


def test_equidepth_histogram_depth_and_coverage(spark, sf_dir):
    rows = equidepth_histogram_orders(spark, sf_dir).collect()
    o = _t(spark, sf_dir, "orders")
    total = o.count()
    assert [r["bucket"] for r in rows] == list(range(1, 9))
    sizes = [r["n_orders"] for r in rows]
    assert sum(sizes) == total
    assert max(sizes) - min(sizes) <= 1  # NTILE equi-depth contract
    # boundaries are non-decreasing across buckets and cover min/max
    for a, b in zip(rows, rows[1:]):
        assert a["lo"] <= a["hi"] <= b["lo"] <= b["hi"]
    lo, hi = o.agg(F.min("o_totalprice"), F.max("o_totalprice")).collect()[0]
    assert rows[0]["lo"] == lo and rows[-1]["hi"] == hi


def test_asof_nearest_python_recompute(spark, sf_dir):
    rows = asof_nearest_events(spark, sf_dir).collect()
    ids = [r["click_id"] for r in rows]
    assert len(ids) == len(set(ids))  # one winner per click
    assert all(abs(r["dt_us"]) <= 3_600_000_000 for r in rows)
    e = (
        _t(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", F.unix_micros("ts").alias("tus"))
        .collect()
    )
    clicks = [r for r in e if r["event_type"] == "click"]
    purch = defaultdict(list)
    for r in e:
        if r["event_type"] == "purchase":
            purch[r["user_id"]].append((r["tus"], r["event_id"]))
    expect = {}
    for c in clicks:
        cand = [
            (abs(pt - c["tus"]), pt, pid, pt - c["tus"])
            for pt, pid in purch.get(c["user_id"], [])
            if abs(pt - c["tus"]) <= 3_600_000_000
        ]
        if cand:
            cand.sort()
            expect[c["event_id"]] = (cand[0][2], cand[0][3])
    assert {r["click_id"]: (r["purchase_id"], r["dt_us"]) for r in rows} == expect


def test_percentiles_global_python_recompute(spark, sf_dir):
    from nearscan_kafka_streams_spark.queries.round6 import (
        percentiles_global_lineitem,
    )

    rows = {r["pct"]: r for r in percentiles_global_lineitem(spark, sf_dir).collect()}
    prices = sorted(
        r["l_extendedprice"]
        for r in _t(spark, sf_dir, "lineitem").select("l_extendedprice").collect()
    )
    n = len(prices)
    for pct, num, den in (("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100), ("p999", 999, 1000)):
        rk = (num * n + den - 1) // den  # ceil(p*n), PERCENTILE_DISC
        assert rows[pct]["rk"] == rk
        assert rows[pct]["price"] == prices[rk - 1]
        assert rows[pct]["n_rows"] == n


def test_gini_matches_python_recompute(spark, sf_dir):
    from nearscan_kafka_streams_spark.queries.round6 import (
        gini_user_activity_events,
    )

    row = gini_user_activity_events(spark, sf_dir).collect()[0]
    counts = Counter(
        r["user_id"] for r in _t(spark, sf_dir, "events").select("user_id").collect()
    )
    xs = sorted(counts.values())
    n, tot = len(xs), sum(xs)
    weighted = sum(i * x for i, x in enumerate(xs, start=1))
    num, den = 2 * weighted - (n + 1) * tot, n * tot
    assert (row["n_users"], row["total_events"]) == (n, tot)
    assert (row["gini_num"], row["gini_den"]) == (num, den)
    assert row["gini_milli"] == (1000 * num) // den
    assert 0 <= row["gini_milli"] <= 1000


def test_sorted_neighborhood_python_recompute(spark, sf_dir):
    from nearscan_kafka_streams_spark.queries.round6 import (
        sorted_neighborhood_customers,
    )

    got = {
        (r["custkey_a"], r["custkey_b"]): r["lev"]
        for r in sorted_neighborhood_customers(spark, sf_dir).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    recs = sorted(
        (r["c_name"], r["c_custkey"])
        for r in _t(spark, sf_dir, "customer").select("c_name", "c_custkey").collect()
    )
    expect = {}
    for i, (na, ka) in enumerate(recs):
        for nb, kb in recs[i + 1 : i + 4]:
            d = lev(na, nb)
            if d <= 4:
                expect[(ka, kb)] = d
    assert got == expect


def test_outliers_mad_python_recompute(spark, sf_dir):
    import statistics

    from nearscan_kafka_streams_spark.queries.round6 import outliers_mad_events

    rows = {r["event_type"]: r for r in outliers_mad_events(spark, sf_dir).collect()}
    data = defaultdict(list)
    for r in _t(spark, sf_dir, "events").select("event_type", "value").collect():
        data[r["event_type"]].append(r["value"])
    assert set(rows) == set(data)
    for et, vs in data.items():
        present = [float(v) for v in vs if v is not None]
        med = statistics.median(present)
        ads = sorted(abs(v - med) for v in present)
        mad = statistics.median(ads)
        n_out = sum(1 for v in present if abs(v - med) > 3.0 * 1.4826 * mad)
        assert rows[et]["n"] == len(vs)
        assert abs(rows[et]["med"] - med) < 1e-6
        assert abs(rows[et]["mad"] - mad) < 1e-6
        assert rows[et]["n_outliers"] == n_out
