"""Round-6 eighth-wave queries: conversion latency bands, daily
new-vs-returning split.  Engine-free Python recomputation on sf0.001.
"""

from __future__ import annotations

from collections import defaultdict

from nearscan_kafka_streams_spark.queries._base import _t
from nearscan_kafka_streams_spark.queries.round6 import (
    conversion_lag_events,
    new_vs_returning_events,
)


def _band(lag_s: int) -> str:
    if lag_s < 60:
        return "lt_1m"
    if lag_s < 600:
        return "lt_10m"
    if lag_s < 3600:
        return "lt_1h"
    if lag_s < 86400:
        return "lt_1d"
    return "ge_1d"


def test_conversion_lag_matches_bruteforce(spark, sf_dir):
    rows = [
        (r["user_id"], r["tus"], r["event_id"], r["event_type"])
        for r in _t(spark, sf_dir, "events")
        .selectExpr("user_id", "unix_micros(ts) AS tus", "event_id", "event_type")
        .collect()
    ]
    per: dict[int, list] = defaultdict(list)
    for u, tus, eid, et in rows:
        per[u].append((tus, eid, et))
    lags = []
    for evs in per.values():
        evs.sort()
        last_view = None
        for tus, _, et in evs:
            if et == "purchase" and last_view is not None:
                lags.append((tus - last_view) // 1_000_000)
            if et == "view":
                last_view = tus
    want: dict[str, list[int]] = defaultdict(list)
    for lag in lags:
        want[_band(lag)].append(lag)
    got = conversion_lag_events(spark, sf_dir).collect()
    assert {r["band"] for r in got} == set(want)
    for r in got:
        ls = want[r["band"]]
        assert r["n"] == len(ls)
        assert r["lag_sum_s"] == sum(ls)
        assert r["lag_min_s"] == min(ls)
        assert r["lag_max_s"] == max(ls)
    assert sum(r["n"] for r in got) == len(lags) > 0


def test_new_vs_returning_matches_bruteforce(spark, sf_dir):
    rows = [
        (r["user_id"], r["ts"].date())
        for r in _t(spark, sf_dir, "events").select("user_id", "ts").collect()
    ]
    first = {}
    for u, d in rows:
        if u not in first or d < first[u]:
            first[u] = d
    agg: dict = defaultdict(lambda: [0, 0, set(), set()])
    for u, d in rows:
        slot = agg[d]
        if d == first[u]:
            slot[0] += 1
            slot[2].add(u)
        else:
            slot[1] += 1
            slot[3].add(u)
    got = new_vs_returning_events(spark, sf_dir).collect()
    assert len(got) == len(agg)
    for r in got:
        from datetime import date

        ne, re_, nu, ru = agg[date.fromisoformat(r["day"])]
        assert (
            r["new_events"],
            r["returning_events"],
            r["new_users"],
            r["returning_users"],
        ) == (ne, re_, len(nu), len(ru))
    # a 30-day corpus must show both cohorts
    assert any(r["returning_events"] > 0 for r in got)
    assert any(r["new_events"] > 0 for r in got)


def test_dedup_cluster_census_covers_corpus(spark, sf_dir):
    """Sizes must sum to the corpus row count (singletons included),
    and removable docs = docs - clusters in every size band."""
    from nearscan_kafka_streams_spark.queries.round6 import (
        dedup_cluster_census,
    )

    n_docs = _t(spark, sf_dir, "documents").count()
    got = dedup_cluster_census(spark, sf_dir).collect()
    assert sum(r["docs_in_size"] for r in got) == n_docs
    for r in got:
        assert r["docs_in_size"] == r["cluster_size"] * r["n_clusters"]
        assert r["docs_removable"] == r["docs_in_size"] - r["n_clusters"]
    # the sf corpora embed genuine near-dup groups: some size > 1
    assert any(r["cluster_size"] > 1 for r in got)
