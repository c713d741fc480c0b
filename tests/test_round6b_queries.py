"""Round-6 second-wave queries: Pareto skyline, label propagation,
Markov transitions, first-touch attribution, edit-distance dedup.

Each test recomputes the full answer in plain Python on the sf0.001
corpus (the DuckDB hash oracle covers cross-engine equality at sf0.01;
these recomputations are engine-free, so a bug mirrored into both the
Spark query and its oracle SQL would still be caught here).
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from nearscan_kafka_streams_spark.queries._base import _t
from nearscan_kafka_streams_spark.queries.round6 import (
    attribution_events,
    dedup_edit_distance_titles,
    label_propagation_users,
    markov_transitions_events,
    pareto_frontier_orders,
)


def test_pareto_frontier_matches_bruteforce_dominance(spark, sf_dir):
    got = [
        (r["o_orderkey"], r["o_totalprice"], r["o_orderdate"])
        for r in pareto_frontier_orders(spark, sf_dir).collect()
    ]
    rows = [
        (r["o_orderkey"], r["o_totalprice"], r["o_orderdate"])
        for r in _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .collect()
    ]

    def dominated(a):
        return any(
            b[1] >= a[1]
            and b[2] >= a[2]
            and (b[1] > a[1] or b[2] > a[2])
            for b in rows
        )

    want = sorted(
        (a for a in rows if not dominated(a)),
        key=lambda a: (-a[1], a[0]),
    )
    assert got == want
    assert len(got) >= 1


def _cooccurrence_edges(spark, sf_dir, bucket_cap=1000):
    b = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("bh"),
        )
        .distinct()
        .collect()
    )
    buckets = defaultdict(set)
    for r in b:
        buckets[(r["event_type"], r["bh"])].add(r["user_id"])
    pair_counts = defaultdict(int)
    for members in buckets.values():
        if len(members) > bucket_cap:
            continue
        ms = sorted(members)
        for i, u in enumerate(ms):
            for v in ms[i + 1 :]:
                pair_counts[(u, v)] += 1
    return {p for p, n in pair_counts.items() if n >= 2}


def test_label_propagation_matches_python_rounds(spark, sf_dir):
    got = {
        r["user_id"]: r["label"]
        for r in label_propagation_users(spark, sf_dir).collect()
    }
    edges = _cooccurrence_edges(spark, sf_dir)
    neigh = defaultdict(set)
    for u, v in edges:
        neigh[u].add(v)
        neigh[v].add(u)
    lab = {u: u for u in neigh}
    for _ in range(3):
        lab = {
            u: min(lab[u], min(lab[v] for v in neigh[u])) for u in lab
        }
    assert got == lab
    # propagation must have merged at least one label on any graph
    # with an edge (min of the pair wins on both endpoints)
    if edges:
        assert any(lab[u] != u for u in lab)


def test_markov_transitions_match_python_recompute(spark, sf_dir):
    got = {
        (r["src"], r["dst"]): (r["n_trans"], r["ppm"])
        for r in markov_transitions_events(spark, sf_dir).collect()
    }
    events = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id", "event_id", "event_type", F.unix_micros("ts").alias("tus")
        )
        .collect()
    )
    per_user = defaultdict(list)
    for r in events:
        per_user[r["user_id"]].append(
            (r["tus"], r["event_id"], r["event_type"])
        )
    counts = defaultdict(int)
    for rows in per_user.values():
        rows.sort()
        for (_, _, a), (_, _, b) in zip(rows, rows[1:]):
            counts[(a, b)] += 1
    totals = defaultdict(int)
    for (a, _), n in counts.items():
        totals[a] += n
    want = {
        k: (n, n * 1_000_000 // totals[k[0]]) for k, n in counts.items()
    }
    assert got == want
    # conditional probabilities sum to ~1e6 per src (floor rounding)
    for src in totals:
        s = sum(p for (a, _), (_, p) in got.items() if a == src)
        assert 1_000_000 - len(got) <= s <= 1_000_000


def test_attribution_matches_python_sessionization(spark, sf_dir):
    got = {
        r["first_touch"]: (r["n_conversions"], r["avg_ms"])
        for r in attribution_events(spark, sf_dir).collect()
    }
    events = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id", "event_id", "event_type", F.unix_micros("ts").alias("tus")
        )
        .collect()
    )
    per_user = defaultdict(list)
    for r in events:
        per_user[r["user_id"]].append(
            (r["tus"], r["event_id"], r["event_type"])
        )
    conv = defaultdict(lambda: [0, 0])  # first_touch -> [n, sum_us]
    for rows in per_user.values():
        rows.sort()
        sessions, cur, prev = [], [], None
        for t in rows:
            if prev is not None and t[0] - prev > 1_800_000_000:
                sessions.append(cur)
                cur = []
            cur.append(t)
            prev = t[0]
        sessions.append(cur)
        for s in sessions:
            purchases = [t[0] for t in s if t[2] == "purchase"]
            if not purchases:
                continue
            ft = s[0][2]
            conv[ft][0] += 1
            conv[ft][1] += min(purchases) - s[0][0]
    want = {
        ft: (n, total_us // (n * 1000)) for ft, (n, total_us) in conv.items()
    }
    assert got == want
    assert sum(n for n, _ in got.values()) > 0


def _levenshtein(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_edit_distance_pairs_match_python_recompute(spark, sf_dir):
    got = [
        (r["doc_a"], r["doc_b"], r["dist"])
        for r in dedup_edit_distance_titles(spark, sf_dir).collect()
    ]
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .collect()
    )
    blocks = defaultdict(list)
    for r in docs:
        title = r["text"][:32]
        if not all(" " <= c <= "~" for c in title):
            continue
        w1 = r["text"].split(" ", 1)[0]
        blocks[(r["lang"], w1)].append((r["doc_id"], title))
    pairs = []
    for members in blocks.values():
        if len(members) > 5000:
            continue
        members.sort()
        for i, (ida, ta) in enumerate(members):
            for idb, tb in members[i + 1 :]:
                pairs.append((_levenshtein(ta, tb), ida, idb))
    pairs.sort()
    want = [(a, b, d) for d, a, b in pairs[:20]]
    assert got == want
    assert len(got) > 0


def test_psi_drift_matches_python_recompute(spark, sf_dir):
    import math

    from nearscan_kafka_streams_spark.queries.round6 import psi_drift_documents

    got = {
        r["lang"]: (r["n_a"], r["n_b"], r["p_ppm"], r["q_ppm"], r["psi_micro"])
        for r in psi_drift_documents(spark, sf_dir).collect()
    }
    docs = (
        _t(spark, sf_dir, "documents").select("lang", "source").collect()
    )
    a_src = min(r["source"] for r in docs)
    ca, cb = defaultdict(int), defaultdict(int)
    for r in docs:
        (ca if r["source"] == a_src else cb)[r["lang"]] += 1
    na, nb = sum(ca.values()), sum(cb.values())
    want = {}
    for lang in set(ca) & set(cb):
        p, q = ca[lang] / na, cb[lang] / nb
        want[lang] = (
            ca[lang],
            cb[lang],
            ca[lang] * 1_000_000 // na,
            cb[lang] * 1_000_000 // nb,
            round(1_000_000.0 * (p - q) * math.log((ca[lang] * nb) / (cb[lang] * na))),
        )
    assert got == want
    assert len(got) > 0


def test_ngram_novelty_matches_python_recompute(spark, sf_dir):
    import re

    from nearscan_kafka_streams_spark.queries.round6 import (
        ngram_novelty_sources,
    )

    got = {
        r["source"]: (r["n_grams"], r["n_novel"], r["novelty_ppm"])
        for r in ngram_novelty_sources(spark, sf_dir).collect()
    }
    docs = (
        _t(spark, sf_dir, "documents").select("source", "text").collect()
    )
    per_source = defaultdict(set)
    for r in docs:
        ws = re.sub(r"\s+", " ", r["text"].lower().strip()).split(" ")
        if len(ws) < 5:
            continue
        for i in range(len(ws) - 4):
            per_source[r["source"]].add(" ".join(ws[i : i + 5]))
    gram_sources = defaultdict(int)
    for src, grams in per_source.items():
        for g in grams:
            gram_sources[g] += 1
    want = {}
    for src, grams in per_source.items():
        novel = sum(1 for g in grams if gram_sources[g] == 1)
        want[src] = (len(grams), novel, novel * 1_000_000 // len(grams))
    assert got == want
    assert len(got) > 0


def test_user_saturation_matches_python_recompute(spark, sf_dir):
    from nearscan_kafka_streams_spark.queries.round6 import (
        user_saturation_events,
    )

    got = [
        (r["day"], r["new_users"], r["cum_users"])
        for r in user_saturation_events(spark, sf_dir).collect()
    ]
    events = (
        _t(spark, sf_dir, "events").select("user_id", "ts").collect()
    )
    first = {}
    for r in events:
        d = r["ts"].date()
        if r["user_id"] not in first or d < first[r["user_id"]]:
            first[r["user_id"]] = d
    daily = defaultdict(int)
    for d in first.values():
        daily[d] += 1
    want, cum = [], 0
    for d in sorted(daily):
        cum += daily[d]
        want.append((d.strftime("%Y-%m-%d"), daily[d], cum))
    assert got == want
    # saturation curve invariants: cumulative is the total distinct
    # user count at the tail and new_users sums to it
    assert got[-1][2] == len(first)
