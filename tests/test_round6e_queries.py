"""Round-6 sixth-wave queries: l-diversity, seasonal anomaly screen,
weighted median.  Engine-free Python recomputation on sf0.001 (the
DuckDB oracle covers cross-engine equality at sf0.01).
"""

from __future__ import annotations

import math
from collections import defaultdict

from nearscan_kafka_streams_spark.queries._base import _t
from nearscan_kafka_streams_spark.queries.round6 import (
    l_diversity_documents,
    seasonal_anomaly_events,
    weighted_median_lineitem,
)


def test_l_diversity_matches_bruteforce(spark, sf_dir):
    rows = [
        (r["lang"], r["n_chars"] // 100, r["source"])
        for r in _t(spark, sf_dir, "documents")
        .select("lang", "n_chars", "source")
        .collect()
    ]
    classes: dict[tuple, list] = defaultdict(list)
    for lang, lb, src in rows:
        classes[(lang, lb)].append(src)
    got = l_diversity_documents(spark, sf_dir).collect()
    assert len(got) == len(classes)
    for r in got:
        srcs = classes[(r["lang"], r["len_bucket"])]
        assert r["class_size"] == len(srcs)
        assert r["l_distinct"] == len(set(srcs))
        assert r["l_diverse"] == (len(set(srcs)) >= 3)
    # the audit must be non-trivial on this corpus: some class fails l
    assert any(not r["l_diverse"] for r in got) or len(got) < 10


def test_seasonal_anomaly_matches_bruteforce(spark, sf_dir):
    rows = [
        (r["event_type"], r["ts"].hour, int(math.floor(r["value"] * 1000 + 0.5)))
        for r in _t(spark, sf_dir, "events")
        .select("event_type", "ts", "value")
        .collect()
    ]
    buckets: dict[tuple, list[int]] = defaultdict(list)
    for et, hod, qv in rows:
        buckets[(et, hod)].append(qv)
    got = seasonal_anomaly_events(spark, sf_dir).collect()
    assert len(got) == len(buckets)
    for r in got:
        qvs = buckets[(r["event_type"], r["hod"])]
        mu = sum(qvs) // len(qvs)
        adevs = [abs(q - mu) for q in qvs]
        mad = sum(adevs) // len(qvs)
        assert r["n"] == len(qvs)
        assert r["baseline_milli"] == mu
        assert r["mad_milli"] == mad
        assert r["n_anomalies"] == sum(1 for a in adevs if a > 3 * mad)
        assert 0 <= r["n_anomalies"] <= r["n"]


def test_weighted_median_matches_bruteforce(spark, sf_dir):
    rows = [
        (
            r["l_returnflag"],
            int(math.floor(r["l_extendedprice"] * 100 + 0.5)),
            int(math.floor(r["l_quantity"] + 0.5)),
            r["l_orderkey"],
            r["l_linenumber"],
        )
        for r in _t(spark, sf_dir, "lineitem")
        .select(
            "l_returnflag",
            "l_extendedprice",
            "l_quantity",
            "l_orderkey",
            "l_linenumber",
        )
        .collect()
    ]
    groups: dict[str, list] = defaultdict(list)
    for rf, pc, w, ok, ln in rows:
        groups[rf].append((pc, ok, ln, w))
    got = {r["l_returnflag"]: r for r in weighted_median_lineitem(spark, sf_dir).collect()}
    assert set(got) == set(groups)
    for rf, items in groups.items():
        items.sort()
        totw = sum(w for _, _, _, w in items)
        cum = 0
        pick = None
        for pc, _, _, w in items:
            cum += w
            if 2 * cum >= totw:
                pick = pc
                break
        assert got[rf]["wmedian_centi"] == pick
        assert got[rf]["total_weight"] == totw
        # the weighted pick differs from a naive unweighted median rank
        # often enough on real data; at minimum the invariant holds:
        below = sum(w for pc, _, _, w in items if pc < pick)
        assert 2 * below < totw
