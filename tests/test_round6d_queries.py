"""Round-6 fifth-wave queries: exact AUC, calibration bins, OHLC bars,
two-sample KS, group-wise OLS trend, Cohen's kappa.

Each test recomputes the full answer in plain Python (arbitrary-
precision ints) on the sf0.001 corpus.  The DuckDB hash oracle covers
cross-engine equality at sf0.01; these recomputations are engine-free,
so a bug mirrored into both the Spark query and its oracle SQL would
still be caught here.
"""

from __future__ import annotations

import math
from collections import defaultdict

from nearscan_kafka_streams_spark.queries._base import _t
from nearscan_kafka_streams_spark.queries.round6 import (
    auc_lang_quality_documents,
    calibration_bins_documents,
    cohens_kappa_documents,
    ks_drift_events,
    ohlc_bars_events,
    trend_slope_users,
)


def _r100(v: float) -> int:
    """round(value * 100) with Spark/DuckDB half-away-from-zero ties
    (Python's round() is banker's; values here are positive)."""
    return int(math.floor(v * 100 + 0.5))


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division (Spark div / DuckDB //)."""
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def test_auc_matches_allpairs_bruteforce(spark, sf_dir):
    rows = [
        (r["n_chars"], r["lang"] == "en")
        for r in _t(spark, sf_dir, "documents").select("n_chars", "lang").collect()
    ]
    pos = [s for s, p in rows if p]
    neg = [s for s, p in rows if not p]
    conc = sum(1 for sp in pos for sn in neg if sp > sn)
    ties = sum(1 for sp in pos for sn in neg if sp == sn)
    want = _tdiv((2 * conc + ties) * 1_000_000, 2 * len(pos) * len(neg))
    got = auc_lang_quality_documents(spark, sf_dir).collect()
    assert len(got) == 1
    assert got[0]["auc_micro"] == want
    assert got[0]["n_pos"] == len(pos)
    assert got[0]["n_neg"] == len(neg)


def test_calibration_bins_match_bruteforce(spark, sf_dir):
    rows = [
        (r["n_chars"], r["lang"] == "en")
        for r in _t(spark, sf_dir, "documents").select("n_chars", "lang").collect()
    ]
    agg: dict[int, list[int]] = defaultdict(lambda: [0, 0, 0])
    for s, p in rows:
        b = agg[s // 256]
        b[0] += 1
        b[1] += int(p)
        b[2] += s
    got = calibration_bins_documents(spark, sf_dir).collect()
    assert [r["bucket"] for r in got] == sorted(agg)
    for r in got:
        n, n_pos, ssum = agg[r["bucket"]]
        assert (r["n"], r["n_pos"], r["score_sum"]) == (n, n_pos, ssum)
        assert r["pos_rate_micro"] == _tdiv(n_pos * 1_000_000, n)


def test_ohlc_bars_match_bruteforce(spark, sf_dir):
    evs = [
        (
            r["event_type"],
            r["ts"].replace(minute=0, second=0, microsecond=0),
            r["ts"],
            r["event_id"],
            _r100(r["value"]),
        )
        for r in _t(spark, sf_dir, "events")
        .select("event_type", "ts", "event_id", "value")
        .collect()
    ]
    buckets: dict[tuple, list] = defaultdict(list)
    for et, bar, ts, eid, qv in evs:
        buckets[(et, bar)].append((ts, eid, qv))
    got = ohlc_bars_events(spark, sf_dir).collect()
    assert len(got) == len(buckets)
    for r in got:
        ticks = sorted(buckets[(r["event_type"], r["bar_ts"])])
        qvs = [qv for _, _, qv in ticks]
        assert r["open_centi"] == ticks[0][2]
        assert r["close_centi"] == ticks[-1][2]
        assert r["high_centi"] == max(qvs)
        assert r["low_centi"] == min(qvs)
        assert r["n_ticks"] == len(ticks)


def test_ks_drift_matches_ecdf_scan(spark, sf_dir):
    rows = [
        (_r100(r["value"]), r["event_type"])
        for r in _t(spark, sf_dir, "events")
        .where("event_type IN ('click', 'purchase')")
        .select("value", "event_type")
        .collect()
    ]
    a = sorted(q for q, t in rows if t == "click")
    b = sorted(q for q, t in rows if t == "purchase")
    na, nb = len(a), len(b)
    best = 0
    for x in sorted(set(a) | set(b)):
        ca = sum(1 for v in a if v <= x)
        cb = sum(1 for v in b if v <= x)
        best = max(best, abs(ca * nb - cb * na))
    got = ks_drift_events(spark, sf_dir).collect()
    assert len(got) == 1
    assert got[0]["ks_micro"] == _tdiv(best * 1_000_000, na * nb)
    assert (got[0]["n_a"], got[0]["n_b"]) == (na, nb)


def test_trend_slope_matches_closed_form(spark, sf_dir):
    rows = [
        (r["user_id"], r["tus"], _r100(r["value"]))
        for r in _t(spark, sf_dir, "events")
        .selectExpr("user_id", "unix_micros(ts) AS tus", "value")
        .collect()
    ]
    per: dict[int, list] = defaultdict(list)
    for u, tus, qy in rows:
        per[u].append((tus, qy))
    want = {}
    for u, pts in per.items():
        t0 = min(t for t, _ in pts)
        xs = [(t - t0) // 1_000_000 for t, _ in pts]
        ys = [y for _, y in pts]
        n = len(pts)
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        sxy = sum(x * y for x, y in zip(xs, ys))
        den = n * sxx - sx * sx
        if den > 0:
            want[u] = (_tdiv((n * sxy - sx * sy) * 1_000_000, den), n)
    got = {
        r["user_id"]: (r["slope_micro"], r["n_events"])
        for r in trend_slope_users(spark, sf_dir).collect()
    }
    assert got == want
    # at least one user has a genuinely nonzero trend or the test corpus
    # would not exercise the numerator sign path
    assert any(s != 0 for s, _ in got.values())


def test_cohens_kappa_matches_confusion(spark, sf_dir):
    rows = [
        (len(r["text"]), len(r["text"].split(" ")))
        for r in _t(spark, sf_dir, "documents").select("text").collect()
    ]
    a = sum(1 for nc, nw in rows if nc >= 300 and nw >= 55)
    b = sum(1 for nc, nw in rows if nc >= 300 and nw < 55)
    c = sum(1 for nc, nw in rows if nc < 300 and nw >= 55)
    d = sum(1 for nc, nw in rows if nc < 300 and nw < 55)
    n = a + b + c + d
    pe_scaled = (a + b) * (a + c) + (c + d) * (b + d)
    # thresholds sit at the corpus median, so both labelers split and
    # the kappa denominator is live (the degenerate-corpus branch is
    # covered by the CASE contract, not this corpus)
    assert 0 < a + b < n and 0 < a + c < n
    want = _tdiv((n * (a + d) - pe_scaled) * 1_000_000, n * n - pe_scaled)
    got = cohens_kappa_documents(spark, sf_dir).collect()
    assert len(got) == 1
    assert got[0]["kappa_micro"] == want
    assert got[0]["n_both"] == a
    assert got[0]["n_neither"] == d
    assert got[0]["n_disagree"] == b + c
