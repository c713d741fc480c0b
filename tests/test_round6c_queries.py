"""Round-6 third-wave queries: RFM segmentation, Benford audit,
tokenizer fertility, BFS reachability, HHI concentration.

Each test recomputes the full answer in plain Python on the sf0.001
corpus (the DuckDB hash oracle covers cross-engine equality at sf0.01;
these recomputations are engine-free, so a bug mirrored into both the
Spark query and its oracle SQL would still be caught here).
"""

from __future__ import annotations

import math
import re
from collections import defaultdict

from nearscan_kafka_streams_spark.queries._base import _t
from nearscan_kafka_streams_spark.queries.round6 import (
    benford_digits_orders,
    bfs_reachability_users,
    hhi_concentration_events,
    rfm_segments_customers,
    tokenizer_fertility_documents,
)


def _ntile4(keys):
    """Standard ntile(4) over an already-ordered key list: the first
    (n mod 4) buckets get the extra row."""
    n = len(keys)
    base, extra = divmod(n, 4)
    out, i = {}, 0
    for b in range(1, 5):
        size = base + (1 if b <= extra else 0)
        for k in keys[i : i + size]:
            out[k] = b
        i += size
    return out


def test_rfm_segments_match_bruteforce(spark, sf_dir):
    rows = [
        (r["o_custkey"], r["o_orderdate"], r["o_totalprice"])
        for r in _t(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderdate", "o_totalprice")
        .collect()
    ]
    per = defaultdict(lambda: [None, 0, 0])
    for ck, d, p in rows:
        agg = per[ck]
        agg[0] = d if agg[0] is None else max(agg[0], d)
        agg[1] += 1
        agg[2] += p
    custs = list(per)
    r_sc = _ntile4(sorted(custs, key=lambda c: (_neg_date(per[c][0]), c)))
    f_sc = _ntile4(sorted(custs, key=lambda c: (-per[c][1], c)))
    m_sc = _ntile4(sorted(custs, key=lambda c: (-per[c][2], c)))
    seg = defaultdict(lambda: [0, None])
    for c in custs:
        s = seg[(r_sc[c], f_sc[c], m_sc[c])]
        s[0] += 1
        s[1] = c if s[1] is None else min(s[1], c)
    want = sorted(
        (k[0], k[1], k[2], v[0], v[1]) for k, v in seg.items()
    )
    got = [
        (
            r["r_score"],
            r["f_score"],
            r["m_score"],
            r["n_customers"],
            r["sample_custkey"],
        )
        for r in rfm_segments_customers(spark, sf_dir).collect()
    ]
    assert got == want
    assert sum(g[3] for g in got) == len(custs)


def _neg_date(d):
    # sort DESC on a date without negation support
    return (-d.toordinal(),)


def test_benford_digits_match_bruteforce(spark, sf_dir):
    prices = [
        r["o_totalprice"]
        for r in _t(spark, sf_dir, "orders")
        .select("o_totalprice")
        .collect()
    ]
    cnt = defaultdict(int)
    for p in prices:
        cnt[str(int(math.floor(p)))[0]] += 1
    total = sum(cnt.values())
    bexp = {
        "1": 301, "2": 176, "3": 125, "4": 97, "5": 79,
        "6": 67, "7": 58, "8": 51, "9": 46,
    }
    want = sorted(
        (
            d,
            n,
            n * 1000 // total,
            bexp[d],
            n * 1000 // total - bexp[d],
        )
        for d, n in cnt.items()
    )
    got = [
        (
            r["digit"],
            r["n"],
            r["obs_milli"],
            r["benford_milli"],
            r["dev_milli"],
        )
        for r in benford_digits_orders(spark, sf_dir).collect()
    ]
    assert got == want
    # hard-coded constants really are round(1000*log10(1+1/d))
    for d, e in bexp.items():
        assert e == round(1000 * math.log10(1 + 1 / int(d)))


_TOK = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")


def test_tokenizer_fertility_matches_bruteforce(spark, sf_dir):
    docs = [
        (r["lang"], r["text"])
        for r in _t(spark, sf_dir, "documents")
        .select("lang", "text")
        .collect()
    ]
    agg = defaultdict(lambda: [0, 0, 0])
    for lang, text in docs:
        a = agg[lang]
        a[0] += 1
        a[1] += len(_TOK.findall(text))
        a[2] += len(text.strip().split()) if text.strip() else 0
    want = sorted(
        (lang, a[0], a[1], a[2], a[1] * 1000 // a[2])
        for lang, a in agg.items()
    )
    got = [
        (
            r["lang"],
            r["n_docs"],
            r["sum_subtokens"],
            r["sum_words"],
            r["fertility_milli"],
        )
        for r in tokenizer_fertility_documents(spark, sf_dir).collect()
    ]
    assert got == want


def test_bfs_levels_match_bruteforce(spark, sf_dir):
    import pyspark.sql.functions as F

    e = (
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
    for r in e:
        buckets[(r["event_type"], r["bh"])].add(r["user_id"])
    adj = defaultdict(set)
    for members in buckets.values():
        if len(members) > 1000:
            continue
        for u in members:
            for v in members:
                if u != v:
                    adj[u].add(v)
    seed = min(r["user_id"] for r in e)
    lvl = {seed: 0}
    frontier = {seed}
    for depth in range(1, 4):
        nxt = set()
        for u in frontier:
            nxt |= adj[u]
        nxt -= lvl.keys()
        if not nxt:
            break
        for v in nxt:
            lvl[v] = depth
        frontier = nxt
    census = defaultdict(int)
    for v in lvl.values():
        census[v] += 1
    want = sorted(census.items())
    got = [
        (r["lvl"], r["n_users"])
        for r in bfs_reachability_users(spark, sf_dir).collect()
    ]
    assert got == want
    assert got[0] == (0, 1)


def test_hhi_matches_bruteforce_and_bounds(spark, sf_dir):
    rows = [
        (r["event_type"], r["user_id"], r["value"])
        for r in _t(spark, sf_dir, "events")
        .select("event_type", "user_id", "value")
        .collect()
    ]
    per = defaultdict(int)
    for et, u, v in rows:
        # Python round() is banker's; Spark/DuckDB round() is
        # half-away-from-zero -- mirror the engines
        per[(et, u)] += int(math.floor(abs(v) * 1000 + 0.5)) * (
            1 if v >= 0 else -1
        )
    tot = defaultdict(int)
    for (et, _), s in per.items():
        tot[et] += s
    shares = defaultdict(list)
    for (et, _), s in per.items():
        shares[et].append(s * 1_000_000 // tot[et])
    want = sorted(
        (et, len(ps), sum(p * p for p in ps), max(ps))
        for et, ps in shares.items()
    )
    got = [
        (
            r["event_type"],
            r["n_users"],
            r["hhi_ppm2"],
            r["top_share_ppm"],
        )
        for r in hhi_concentration_events(spark, sf_dir).collect()
    ]
    assert got == want
    for _, _, hhi, top in got:
        assert 0 <= hhi <= 1_000_000_000_000
        assert top * top <= hhi
